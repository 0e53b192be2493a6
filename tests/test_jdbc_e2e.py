"""JDBC sinks exercised END-TO-END against an embedded Derby database
(ships on Spark's classpath — no network service needed): append,
truncate-preserving overwrite, and the D2 upsert's retry convergence.
SURVEY.md §2.1 S6-S8; reference behavior at
dags/spark_jobs/calculate_daily_transactions.py:65-78."""

from __future__ import annotations

import datetime as dt

import pytest

from etl_platform_nyc_taxi_spark.sources.jdbc import (
    JdbcConfig,
    ensure_table,
    execute_statement,
    read_jdbc,
    table_exists,
    write_jdbc_append,
    write_jdbc_overwrite,
    write_jdbc_upsert,
)

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
DAILY_DDL = (
    '"transaction_date" DATE PRIMARY KEY, '
    '"total_transactions" INTEGER, '
    '"calculated_at" TIMESTAMP'
)


@pytest.fixture
def cfg(tmp_path):
    return JdbcConfig(
        url=f"jdbc:derby:{tmp_path}/db;create=true", driver=DERBY_DRIVER
    )


def _row(spark, day, n):
    return spark.createDataFrame(
        [(day, n, dt.datetime(2024, 6, 1, 12, 0))],
        "transaction_date date, total_transactions int, calculated_at timestamp",
    )


def test_ensure_table_idempotent_and_probe(spark, cfg):
    assert not table_exists(spark, cfg, "daily_transaction")
    ensure_table(spark, cfg, "daily_transaction", DAILY_DDL)
    assert table_exists(spark, cfg, "daily_transaction")
    ensure_table(spark, cfg, "daily_transaction", DAILY_DDL)  # second: no-op
    # a genuinely broken DDL on a MISSING table must still raise
    with pytest.raises(Exception):
        ensure_table(spark, cfg, "broken_table", '"x" NOT_A_TYPE')


def test_append_and_read_roundtrip(spark, cfg):
    ensure_table(spark, cfg, "daily_transaction", DAILY_DDL)
    write_jdbc_append(_row(spark, dt.date(2024, 6, 1), 5), cfg, "daily_transaction")
    write_jdbc_append(_row(spark, dt.date(2024, 6, 2), 7), cfg, "daily_transaction")
    got = {
        r["transaction_date"]: r["total_transactions"]
        for r in read_jdbc(spark, cfg, "daily_transaction").collect()
    }
    assert got == {dt.date(2024, 6, 1): 5, dt.date(2024, 6, 2): 7}


def test_append_retry_violates_pk_but_upsert_converges(spark, cfg):
    """The reference defect D2 reproduced against a real PK, then fixed:
    a retried bare append violates the primary key; the keyed upsert
    retries to the SAME final state."""
    ensure_table(spark, cfg, "daily_transaction", DAILY_DDL)
    day = dt.date(2024, 6, 1)
    write_jdbc_append(_row(spark, day, 5), cfg, "daily_transaction")
    with pytest.raises(Exception):  # duplicate key on replay — D2
        write_jdbc_append(_row(spark, day, 5), cfg, "daily_transaction")

    pred = "\"transaction_date\" = CAST('2024-06-01' AS DATE)"
    write_jdbc_upsert(_row(spark, day, 9), cfg, "daily_transaction", pred)
    write_jdbc_upsert(_row(spark, day, 9), cfg, "daily_transaction", pred)  # replay
    got = read_jdbc(spark, cfg, "daily_transaction").collect()
    assert len(got) == 1 and got[0]["total_transactions"] == 9


def test_overwrite_truncate_preserves_ddl(spark, cfg):
    """S7: truncate-mode overwrite keeps the out-of-band DDL (the PK) —
    proven by D2 still firing on a duplicate append afterwards."""
    ensure_table(spark, cfg, "daily_transaction", DAILY_DDL)
    write_jdbc_append(_row(spark, dt.date(2024, 6, 1), 5), cfg, "daily_transaction")
    write_jdbc_overwrite(
        _row(spark, dt.date(2024, 6, 2), 7), cfg, "daily_transaction"
    )
    got = read_jdbc(spark, cfg, "daily_transaction").collect()
    assert len(got) == 1 and got[0]["transaction_date"] == dt.date(2024, 6, 2)
    # PK survival (DDL preserved) is pinned in the next test via the raise


def test_overwrite_truncate_pk_still_enforced(spark, cfg):
    ensure_table(spark, cfg, "daily_transaction", DAILY_DDL)
    write_jdbc_overwrite(
        _row(spark, dt.date(2024, 6, 2), 7), cfg, "daily_transaction"
    )
    with pytest.raises(Exception):
        write_jdbc_append(
            _row(spark, dt.date(2024, 6, 2), 7), cfg, "daily_transaction"
        )


def test_ddl_statement_roundtrip(spark, cfg):
    """S8: arbitrary DDL/DML through execute_statement. Each call is one
    transaction: a single statement is committed, and a failing statement
    rolls back the ones before it."""
    execute_statement(spark, cfg, 'CREATE TABLE t8 ("x" INTEGER)')
    execute_statement(spark, cfg, "INSERT INTO t8 VALUES (42)")
    got = read_jdbc(spark, cfg, "t8").collect()
    assert [r["x"] for r in got] == [42]
    with pytest.raises(Exception):
        execute_statement(
            spark, cfg, "INSERT INTO t8 VALUES (7)", "INSERT INTO no_such_table VALUES (1)"
        )
    got = read_jdbc(spark, cfg, "t8").collect()
    assert [r["x"] for r in got] == [42]


def test_streaming_jdbc_upsert_exactly_once_state(spark, cfg, tmp_path):
    """Streaming daily pipeline -> JDBC with exactly-once TABLE STATE
    (streaming/jdbc_sink.stream_upsert_jdbc): per micro-batch, the
    update-mode aggregate's changed keys are upserted under their own
    key window. A full replay (fresh checkpoint) converges to the same
    table instead of violating the PK the way the reference's bare
    append does; a resumed run with the SAME checkpoint is a no-op."""
    from etl_platform_nyc_taxi_spark.streaming.daily_stream import read_stream_auto
    from etl_platform_nyc_taxi_spark.streaming.jdbc_sink import stream_upsert_jdbc

    ensure_table(
        spark, cfg, "stream_daily", '"day" DATE PRIMARY KEY, "cnt" BIGINT'
    )
    d1, d2 = dt.date(2024, 6, 1), dt.date(2024, 6, 2)
    src = tmp_path / "src"
    # file 1: three d1 rows + one d2 row; file 2: two more d2 rows — the
    # second micro-batch must UPDATE d2's cumulative count, not append
    spark.createDataFrame([(d1,), (d1,), (d1,), (d2,)], "day date").coalesce(
        1
    ).write.mode("append").parquet(str(src))
    spark.createDataFrame([(d2,), (d2,)], "day date").coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    def agg(stream):
        from pyspark.sql import functions as F

        return stream.groupBy("day").agg(F.count(F.lit(1)).alias("cnt"))

    ckpt = str(tmp_path / "ckpt")
    stream_upsert_jdbc(
        agg(read_stream_auto(spark, str(src), maxFilesPerTrigger="1")),
        cfg,
        "stream_daily",
        key_cols=["day"],
        checkpoint_dir=ckpt,
    )
    got = {r["day"]: r["cnt"] for r in read_jdbc(spark, cfg, "stream_daily").collect()}
    assert got == {d1: 3, d2: 3}

    # resumed run, same checkpoint: no batches to do, table unchanged
    stream_upsert_jdbc(
        agg(read_stream_auto(spark, str(src), maxFilesPerTrigger="1")),
        cfg,
        "stream_daily",
        key_cols=["day"],
        checkpoint_dir=ckpt,
    )
    # FULL replay, fresh checkpoint: every batch re-applies; upsert
    # semantics converge to the identical final state (no PK violation)
    stream_upsert_jdbc(
        agg(read_stream_auto(spark, str(src), maxFilesPerTrigger="1")),
        cfg,
        "stream_daily",
        key_cols=["day"],
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    got = {r["day"]: r["cnt"] for r in read_jdbc(spark, cfg, "stream_daily").collect()}
    assert got == {d1: 3, d2: 3}


def test_streaming_upsert_many_keys_uses_staging_path(spark, cfg, tmp_path):
    """VERDICT r5 task 3: a micro-batch whose distinct-key count exceeds
    the threshold must route through the staging table (constant-size
    DELETE WHERE EXISTS + INSERT..SELECT), never the O(keys) literal
    predicate — with identical final state and replay convergence."""
    from etl_platform_nyc_taxi_spark.streaming import jdbc_sink
    from etl_platform_nyc_taxi_spark.streaming.daily_stream import read_stream_auto

    ensure_table(spark, cfg, "many_keys", '"k" INTEGER PRIMARY KEY, "cnt" BIGINT')
    src = tmp_path / "src"
    # 20 distinct keys > threshold 5 → staging; second file shifts 5 keys
    spark.createDataFrame([(k,) for k in range(20)], "k int").coalesce(
        1
    ).write.mode("append").parquet(str(src))
    spark.createDataFrame([(k,) for k in range(5)], "k int").coalesce(
        1
    ).write.mode("append").parquet(str(src))

    from pyspark.sql import functions as F

    def agg(stream):
        return stream.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))

    calls = {"staging": 0, "literal": 0}
    real_staging = jdbc_sink.upsert_via_staging
    real_literal = jdbc_sink.write_jdbc_upsert

    def spy_staging(*a, **kw):
        calls["staging"] += 1
        return real_staging(*a, **kw)

    def spy_literal(*a, **kw):
        calls["literal"] += 1
        return real_literal(*a, **kw)

    jdbc_sink.upsert_via_staging = spy_staging
    jdbc_sink.write_jdbc_upsert = spy_literal
    try:
        jdbc_sink.stream_upsert_jdbc(
            agg(read_stream_auto(spark, str(src), maxFilesPerTrigger="1")),
            cfg,
            "many_keys",
            key_cols=["k"],
            checkpoint_dir=str(tmp_path / "ckpt"),
            staging_key_threshold=5,
        )
    finally:
        jdbc_sink.upsert_via_staging = real_staging
        jdbc_sink.write_jdbc_upsert = real_literal

    assert calls["staging"] >= 1  # the 20-key batch staged
    got = {r["k"]: r["cnt"] for r in read_jdbc(spark, cfg, "many_keys").collect()}
    assert got == {k: (2 if k < 5 else 1) for k in range(20)}
    # staging tables (unique-named per invocation) all dropped afterwards
    leftover = read_jdbc(
        spark,
        cfg,
        "(SELECT TABLENAME FROM SYS.SYSTABLES"
        " WHERE TABLENAME LIKE 'MANY_KEYS_STG%') q",
    ).collect()
    assert leftover == []

    # full replay, fresh checkpoint: identical state, no PK violation
    jdbc_sink.stream_upsert_jdbc(
        agg(read_stream_auto(spark, str(src), maxFilesPerTrigger="1")),
        cfg,
        "many_keys",
        key_cols=["k"],
        checkpoint_dir=str(tmp_path / "ckpt2"),
        staging_key_threshold=5,
    )
    got = {r["k"]: r["cnt"] for r in read_jdbc(spark, cfg, "many_keys").collect()}
    assert got == {k: (2 if k < 5 else 1) for k in range(20)}


def test_upsert_via_staging_null_safe_keys(spark, cfg):
    """The staging DELETE's key match must treat NULL = NULL as a match,
    or a replayed batch with a null key appends a duplicate."""
    from etl_platform_nyc_taxi_spark.streaming.jdbc_sink import upsert_via_staging

    ensure_table(spark, cfg, "nullk", '"k" INTEGER, "v" INTEGER')
    batch = spark.createDataFrame([(None, 1), (7, 2)], "k int, v int")
    upsert_via_staging(batch, cfg, "nullk", ["k"])
    upsert_via_staging(batch, cfg, "nullk", ["k"])  # replay
    got = {(r["k"], r["v"]) for r in read_jdbc(spark, cfg, "nullk").collect()}
    assert got == {(None, 1), (7, 2)}


def test_upsert_via_staging_string_keys_derby(spark, cfg):
    """ADVICE r6: Spark's Derby dialect creates staging STRING columns as
    CLOB, and Derby rejects ``=`` on CLOB — so without the VARCHAR pin on
    the staging write, a string-keyed staged upsert throws at the
    DELETE..WHERE EXISTS. Pin + replay-convergence, end to end."""
    from etl_platform_nyc_taxi_spark.streaming.jdbc_sink import upsert_via_staging

    ensure_table(spark, cfg, "strk", '"name" VARCHAR(64) PRIMARY KEY, "v" INTEGER')
    batch = spark.createDataFrame(
        [("alice", 1), ("bob", 2)], "name string, v int"
    )
    upsert_via_staging(batch, cfg, "strk", ["name"])
    upsert_via_staging(batch, cfg, "strk", ["name"])  # replay: converges
    batch2 = spark.createDataFrame([("alice", 9)], "name string, v int")
    upsert_via_staging(batch2, cfg, "strk", ["name"])  # keyed update
    got = {(r["name"], r["v"]) for r in read_jdbc(spark, cfg, "strk").collect()}
    assert got == {("alice", 9), ("bob", 2)}


def test_upsert_via_staging_atomic_on_insert_failure(spark, cfg):
    """ADVICE r6: DELETE and INSERT run in ONE transaction. If the INSERT
    fails (here: the batch itself violates the target PK), the DELETE
    must roll back — the pre-existing row survives instead of the key
    window being left deleted until a replay heals it."""
    from etl_platform_nyc_taxi_spark.streaming.jdbc_sink import upsert_via_staging

    ensure_table(spark, cfg, "atomik", '"k" INTEGER PRIMARY KEY, "v" INTEGER')
    execute_statement(spark, cfg, "INSERT INTO atomik VALUES (1, 0)")
    bad = spark.createDataFrame([(1, 5), (1, 6)], "k int, v int")  # dup key
    with pytest.raises(Exception):
        upsert_via_staging(bad, cfg, "atomik", ["k"])
    got = read_jdbc(spark, cfg, "atomik").collect()
    assert len(got) == 1 and got[0]["k"] == 1 and got[0]["v"] == 0


def test_upsert_subsecond_timestamp_key_replay_converges(spark, cfg):
    """ADVICE r5 (medium): sql_literal must carry fractional seconds —
    truncating to whole seconds makes the delete predicate miss the
    previously appended row, so a replayed micro-batch duplicates it."""
    from etl_platform_nyc_taxi_spark.streaming.jdbc_sink import keys_predicate

    ensure_table(spark, cfg, "tskey", '"ts" TIMESTAMP, "v" INTEGER')
    t = dt.datetime(2024, 6, 1, 12, 0, 0, 123456)
    df = spark.createDataFrame([(t, 1)], "ts timestamp, v int")
    pred = keys_predicate([{"ts": t}], ["ts"])
    assert ".123456" in pred
    write_jdbc_upsert(df, cfg, "tskey", pred)
    write_jdbc_upsert(df, cfg, "tskey", pred)  # replay
    got = read_jdbc(spark, cfg, "tskey").collect()
    assert len(got) == 1 and got[0]["ts"] == t
