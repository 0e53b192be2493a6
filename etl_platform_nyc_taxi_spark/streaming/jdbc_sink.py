"""Streaming → JDBC keyed upsert: ``foreachBatch`` + delete-then-append.

The reference loads its daily aggregate into Postgres with a bare append
(calculate_daily_transactions.py:77), which double-writes on retry — the
D2 defect. The engine's batch fix is :func:`sources.jdbc.write_jdbc_upsert`
(delete the key window this run owns, then append). This module is the
STREAMING twin: each micro-batch's aggregate rows are upserted under the
key window the batch actually contains, so the at-least-once
``foreachBatch`` contract composes into exactly-once TABLE STATE the same
way the CDC fold does (streaming/cdc.py): a replayed batch deletes and
rewrites the same keys to the same values instead of appending duplicates.

Contract: the streamed relation must be a KEYED AGGREGATE whose rows carry
final values for their keys within the batch (e.g. one input file per day
→ per-day totals). The delete window is enumerated from the batch's
distinct keys — valid because aggregate outputs have few keys per batch;
a fact-grained stream should go through the CDC fold or an append sink
instead.

Scale notes: the only driver-side materialization is the distinct KEY set
of one micro-batch of aggregate rows (bounded by design); row data flows
executor→database through Spark's JDBC writer with its usual batching and
``numPartitions`` parallelism.

Ref (capability parity + D2 fix): dags/spark_jobs/
calculate_daily_transactions.py:70-77, daily_transactions_dag.py:30-37.
"""

from __future__ import annotations

import datetime as _dt
import shutil
import tempfile

from pyspark.sql import DataFrame

from etl_platform_nyc_taxi_spark.sources.jdbc import (
    DEFAULT_STAGING_KEY_THRESHOLD,
    JdbcConfig,
    write_jdbc_upsert,
    write_jdbc_upsert_staged,
)


def sql_literal(v) -> str:
    """Render one key value as a dialect-portable SQL literal."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        # repr() of nan/inf is not valid SQL, and float-equality keys are
        # fragile across a JDBC round trip anyway — reject non-finite
        # outright (keys should be date/int/string per the contract).
        if v != v or v in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite float is not a valid key literal: {v!r}")
        return repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, _dt.datetime):
        # CAST form, not the ANSI TIMESTAMP '...' literal: Derby rejects
        # the latter; CAST parses on Derby AND Postgres. Fractional
        # seconds are always included — truncating them would make the
        # delete predicate miss previously written sub-second keys, so a
        # replayed batch would append duplicates.
        return (
            "CAST('"
            + v.strftime("%Y-%m-%d %H:%M:%S.%f")
            + "' AS TIMESTAMP)"
        )
    if isinstance(v, _dt.date):
        return f"CAST('{v.isoformat()}' AS DATE)"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def keys_predicate(keys, key_cols: list[str]) -> str | None:
    """OR-of-conjunctions predicate over pre-collected key rows
    (identifiers double-quoted — ANSI, valid on Derby and Postgres).
    Returns None for an empty key set."""
    if not keys:
        return None
    terms = []
    for r in keys:
        conj = " AND ".join(
            f'"{c}" = {sql_literal(r[c])}'
            if r[c] is not None
            else f'"{c}" IS NULL'
            for c in key_cols
        )
        terms.append(f"({conj})")
    return " OR ".join(terms)


#: Batch-generic staging upsert lives with the other JDBC sinks
#: (sources/jdbc.write_jdbc_upsert_staged); re-exported here because the
#: streaming sink is its primary consumer.
upsert_via_staging = write_jdbc_upsert_staged


def stage_table_name(table: str, qtag: str, batch_id: int) -> str:
    """Per-(query, batch) staging-table identifier, capped at 63 bytes.

    PostgreSQL truncates longer identifiers SILENTLY, which for a long
    target name would clip off the qtag/batch discriminator and re-open
    the cross-writer stage collision the naming scheme exists to prevent
    (code-review r7). Over-long names keep their full discriminating
    content by hashing the whole uncapped name into a fixed-width
    suffix: two distinct (table, qtag, batch) triples map to distinct
    capped names (md5 prefix, 64 bits).

    The cap is measured in UTF-8 BYTES, not Python characters
    (advisor r8): PostgreSQL's NAMEDATALEN limit is 63 bytes, so a
    target name with multibyte characters could pass a ``len()`` check
    yet still be silently truncated server-side, clipping the
    discriminator again. The table prefix is likewise sliced by encoded
    bytes (dropping any codepoint the cut would split)."""
    stage = f"{table}_stg_{qtag}_{batch_id:x}"
    if len(stage.encode("utf-8")) <= 63:
        return stage
    import hashlib as _hl

    digest = _hl.md5(stage.encode("utf-8")).hexdigest()[:16]
    suffix = f"_stg_{digest}"  # 21 ASCII bytes
    prefix = table.encode("utf-8")[: 63 - len(suffix)].decode(
        "utf-8", errors="ignore"
    )
    return f"{prefix}{suffix}"


def stream_upsert_jdbc(
    stream: DataFrame,
    cfg: JdbcConfig,
    table: str,
    key_cols: list[str],
    checkpoint_dir: str | None = None,
    output_mode: str = "update",
    staging_key_threshold: int = DEFAULT_STAGING_KEY_THRESHOLD,
) -> None:
    """Run the stream to completion (Trigger.AvailableNow), upserting each
    micro-batch into ``table`` under its own key window.

    Default ``output_mode='update'``: for a streaming aggregate, each
    micro-batch then carries the CHANGED keys with their latest
    cumulative values — exactly the rows whose table state must move,
    and the last write per key is the final aggregate. Pass ``'append'``
    for a stateless keyed relation.

    Batches with at most ``staging_key_threshold`` distinct keys delete
    via a literal key predicate (one round trip, no staging DDL); above
    it the batch routes through :func:`upsert_via_staging` so the SQL
    stays constant-size. The driver collects at most
    ``staging_key_threshold + 1`` key rows either way.
    """
    if not key_cols:
        raise ValueError("key_cols must be non-empty")

    owned = checkpoint_dir is None
    ckpt = checkpoint_dir or tempfile.mkdtemp(prefix="ckpt_jdbc_upsert_")
    # Per-QUERY staging discriminator: batch ids alone collide when two
    # independent streams (separate checkpoints, both numbering batches
    # from 0) upsert the same target concurrently — one would overwrite
    # the other's stage mid-flight. The checkpoint location is the
    # stable identity of a streaming query, so hash it into the stage
    # name; a replayed batch (same checkpoint, same batch_id) still
    # reuses and overwrites ITS OWN stage.
    import hashlib

    qtag = hashlib.md5(ckpt.encode()).hexdigest()[:8]

    def apply(batch: DataFrame, batch_id: int) -> None:
        keys = (
            batch.select(*key_cols)
            .distinct()
            .limit(staging_key_threshold + 1)
            .collect()
        )
        if not keys:
            return
        if len(keys) > staging_key_threshold:
            upsert_via_staging(
                batch,
                cfg,
                table,
                key_cols,
                stage_table=stage_table_name(table, qtag, int(batch_id)),
            )
        else:
            write_jdbc_upsert(batch, cfg, table, keys_predicate(keys, key_cols))
    try:
        q = (
            stream.writeStream.foreachBatch(apply)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if owned:
            shutil.rmtree(ckpt, ignore_errors=True)
