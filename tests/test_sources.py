"""Sources & sinks: nanos-safe parquet loader, glob scan, JDBC SQL gen,
local rows."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_platform_nyc_taxi_spark.sources.jdbc import (
    JdbcConfig,
    create_table_sql,
    delete_where_sql,
)
from etl_platform_nyc_taxi_spark.sources.parquet import (
    list_parquet_files,
    read_parquet_auto,
)


def test_nanos_parquet_roundtrip(spark, tmp_path):
    # pyarrow-written ns timestamps (the driver fixtures' events.ts shape)
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ns.parquet")
    tbl = pa.table(
        {
            "ts": pa.array(
                [dt.datetime(2024, 1, 1, 12, 0, 0, 123456), None],
                type=pa.timestamp("ns"),
            ),
            "v": pa.array([1, 2], type=pa.int64()),
        }
    )
    pq.write_table(tbl, path)
    df = read_parquet_auto(spark, path)
    assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
    got = df.orderBy("v").collect()
    assert got[0]["ts"] == dt.datetime(2024, 1, 1, 12, 0, 0, 123456)
    assert got[1]["ts"] is None


def test_fixture_loader_matches_duckdb_values(spark):
    import duckdb

    from etl_platform_nyc_taxi_spark.sources.parquet import load_fixture

    df = load_fixture(spark, "/root/testdata/sf0.001", "events")
    smin, smax = df.agg(F.min("ts"), F.max("ts")).collect()[0]
    omin, omax = duckdb.sql(
        "SELECT min(ts), max(ts) FROM '/root/testdata/sf0.001/events.parquet'"
    ).fetchone()
    assert (smin, smax) == (omin, omax)


def test_nanos_parquet_glob_restores_timestamps(spark, tmp_path):
    """A glob path gets the same TIMESTAMP(NANOS) restore as a file or a
    directory: the footer probe lists the glob's matches instead of
    reading the pattern as one file name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_platform_nyc_taxi_spark.plans.daily_transactions import daily_transactions

    for i, hours in enumerate([(8, 9), (10, 23)]):
        pq.write_table(
            pa.table(
                {
                    "pickup_datetime": pa.array(
                        [dt.datetime(2024, 6, 1, h) for h in hours],
                        type=pa.timestamp("ns"),
                    )
                }
            ),
            str(tmp_path / f"t_{i}.parquet"),
        )
    df = read_parquet_auto(spark, str(tmp_path / "t_*.parquet"))
    assert isinstance(df.schema["pickup_datetime"].dataType, T.TimestampNTZType)
    got = daily_transactions(df, "2024-06-01").collect()
    assert [(r["transaction_date"], r["total_transactions"]) for r in got] == [
        (dt.date(2024, 6, 1), 4)
    ]


def test_list_parquet_files_dir_file_glob_missing(tmp_path):
    for name in ("b.parquet", "a.parquet", "notes.txt"):
        (tmp_path / name).write_bytes(b"")
    a, b = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    assert list_parquet_files(str(tmp_path)) == [a, b]  # sorted, .txt skipped
    assert list_parquet_files(b) == [b]
    assert list_parquet_files(str(tmp_path / "*.parquet")) == [a, b]
    assert list_parquet_files(str(tmp_path / "missing")) == []


def test_glob_scan_and_probe(spark, tmp_path):
    for m in ("2024-01", "2024-02"):
        spark.createDataFrame([(m,)], "m string").write.parquet(
            str(tmp_path / f"fhvhv_tripdata_{m}.parquet")
        )
    glob = str(tmp_path / "fhvhv_tripdata_*.parquet")
    files = list_parquet_files(glob)
    assert len(files) == 2
    schema = read_parquet_auto(spark, files[0]).schema
    assert [f.name for f in schema.fields] == ["m"]
    assert read_parquet_auto(spark, glob).count() == 2


def test_jdbc_sql_generation():
    assert (
        delete_where_sql("daily_transaction", "transaction_date = DATE '2024-06-01'")
        == "DELETE FROM daily_transaction WHERE transaction_date = DATE '2024-06-01'"
    )
    ddl = create_table_sql(
        "daily_transaction",
        "transaction_date DATE PRIMARY KEY, total_transactions INTEGER, calculated_at TIMESTAMP",
    )
    assert ddl.startswith("CREATE TABLE IF NOT EXISTS daily_transaction (")


def test_jdbc_config_options():
    cfg = JdbcConfig(url="jdbc:postgresql://h:5432/db", user="u", password="p")
    opts = cfg.options()
    assert opts["driver"] == "org.postgresql.Driver"
    assert opts["batchsize"] == "10000"


def test_write_partitioned_enables_partition_pruning(spark, tmp_path):
    """The §7.5 layout fix: date-partitioned output + date filter ⇒ the
    scan's PartitionFilters prune directories (no full-history scan)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from etl_platform_nyc_taxi_spark.sources.parquet import (
        load_fixture,
        write_partitioned,
    )

    src = load_fixture(spark, "/root/testdata/sf0.001", "events").withColumn(
        "event_date", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_date")
    write_partitioned(src, out, ["event_date"])

    back = spark.read.parquet(out)
    one_day = back.filter(F.col("event_date") == "2024-01-05")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain("formatted")
    plan = buf.getvalue()
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_date" in pf  # pruning predicate reached the scan
    # and the data survives the round-trip exactly
    want = src.filter(F.col("event_date") == "2024-01-05").count()
    assert one_day.count() == want > 0


def test_compact_files_reduces_file_count(spark, tmp_path):
    from etl_platform_nyc_taxi_spark.sources.parquet import compact_files

    src = str(tmp_path / "fragmented")
    spark.range(0, 10000).repartition(32).write.parquet(src)
    import glob

    assert len(glob.glob(f"{src}/part-*")) == 32
    dest = str(tmp_path / "compacted")
    n = compact_files(spark, src, dest, target_file_mb=512)
    assert n == 1
    assert len(glob.glob(f"{dest}/part-*")) == 1
    assert spark.read.parquet(dest).count() == 10000


def test_compact_files_refuses_in_place(spark, tmp_path):
    """dest == src would delete the lazily-read input mid-job."""
    import pytest

    from etl_platform_nyc_taxi_spark.sources.parquet import compact_files

    src = str(tmp_path / "inplace")
    spark.range(0, 10).write.parquet(src)
    with pytest.raises(ValueError, match="dest must differ"):
        compact_files(spark, src, str(tmp_path / "inplace"))
    assert spark.read.parquet(src).count() == 10  # source untouched


def test_compact_files_partitioned_preserves_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_platform_nyc_taxi_spark.sources.parquet import compact_files

    src = str(tmp_path / "frag_part")
    (
        spark.range(0, 1000)
        .select(F.col("id"), (F.col("id") % 3).alias("p"))
        .repartition(16)
        .write.partitionBy("p")
        .parquet(src)
    )
    dest = str(tmp_path / "comp_part")
    compact_files(spark, src, dest, partition_cols=["p"])
    import glob

    assert sorted(
        d.rsplit("=", 1)[-1] for d in glob.glob(f"{dest}/p=*")
    ) == ["0", "1", "2"]
    # each partition dir collapses to one file (3 distinct values, hashed apart)
    for d in glob.glob(f"{dest}/p=*"):
        assert len(glob.glob(f"{d}/part-*")) == 1, d
    assert spark.read.parquet(dest).count() == 1000
