"""Parquet sources (SURVEY.md §2.1 S1-S5).

Capability parity with the reference's scan family, expressed as one
multi-file Catalyst scan instead of the reference's driver-side per-file
loop (reference: dags/spark_jobs/calculate_top_taxi_zones.py:37-40,69-79 —
anti-pattern C5/D1):

  * S1/S2 glob or single-file scan: :func:`read_parquet_auto` takes a
    file, a directory or a glob (calculate_daily_transactions.py:48-50);
    an imposed schema is Spark's own ``spark.read.schema(s).parquet(p)``
  * S3 schema probe: ``read_parquet_auto(spark, f).schema`` reads footers
    only (calculate_top_taxi_zones.py:21-27)
  * S4 file discovery: :func:`list_parquet_files`
    (calculate_top_taxi_zones.py:37-40)

At 100 TB the per-file loop is fatal (one Spark job per file, no cross-file
parallelism, N× scheduling overhead); a single ``spark.read.parquet(dir)``
with ``mergeSchema`` gives the same drift tolerance in one distributed scan.
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def list_parquet_files(path: str) -> list[str]:
    """S4: the parquet files ``path`` names, sorted — a directory's
    ``*.parquet`` entries, a file itself, or a glob's matches (``[]`` when
    nothing matches). A literal file is checked before the glob, so a name
    holding glob characters is never reinterpreted as a pattern.

    Driver-side listing is only for orchestration decisions (sensing,
    footer probes); the scan itself passes ``path`` to Spark so listing
    happens in parallel on the cluster.
    """
    if os.path.isdir(path):
        return sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if os.path.isfile(path):
        return [path]
    return sorted(_glob.glob(path))


#: Footer-probe budget for schema-drifted directories: a nanos column
#: present only in later file generations must still be found, but a
#: 100k-file directory must not pay 100k footer reads on the driver.
_NANOS_PROBE_MAX_FILES = 16


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Footer-only probe for TIMESTAMP(NANOS) columns (driver-side, cheap).

    Spark's parquet reader rejects nanosecond timestamps outright; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they surface as int64 and need
    an explicit restore to timestamp (see :func:`read_parquet_auto`).
    Probes up to ``_NANOS_PROBE_MAX_FILES`` files and unions the result —
    a single-file probe missed nanos columns introduced by later file
    generations under schema drift (code-review r7)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa
    except ImportError:
        return []
    cols: set[str] = set()
    for f in list_parquet_files(path)[:_NANOS_PROBE_MAX_FILES]:
        try:
            schema = pq.read_schema(f)
        except Exception:
            continue  # unreadable footer: Spark will surface it anyway
        cols.update(
            fld.name
            for fld in schema
            if pa.types.is_timestamp(fld.type) and fld.type.unit == "ns"
        )
    return sorted(cols)


def _restore_nanos_cols(df: DataFrame, probe_path: str) -> DataFrame:
    """Shared restore projection for nanos-surfaced int64 columns (used
    by both the batch and streaming auto readers — one copy, one set of
    semantics). Guards on the surfaced type: INT96 timestamps also read
    as ns in the pyarrow probe, but Spark loads them as proper TIMESTAMP
    and need no restore. The ns→µs conversion FLOORS: a bare ``DIV
    1000`` truncates toward zero, restoring pre-1970 sub-µs values 1 µs
    high and diverging from Arrow/DuckDB's floor (code-review r7);
    subtracting ``pmod`` first keeps the division exact in int64."""
    dtypes = dict(df.dtypes)
    for c in _nanos_timestamp_cols(probe_path):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(
                c,
                F.timestamp_micros(
                    F.expr(f"(`{c}` - pmod(`{c}`, 1000)) DIV 1000")
                ).cast("timestamp_ntz"),
            )
    return df


def read_parquet_auto(spark: SparkSession, path: str) -> DataFrame:
    """Scan parquet tolerating nanosecond timestamps.

    NANOS columns come back as int64 epoch-nanos (legacy conf) and are
    restored to ``timestamp_ntz`` at µs precision — the same floor
    truncation Arrow/DuckDB apply, so oracle comparisons stay exact. The
    conversion is a pure projection (no shuffle, stays in codegen).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _restore_nanos_cols(spark.read.parquet(path), path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Ingest-side layout fix for the reference's scan-everything defect
    (SURVEY.md §4/§7.5): write hive-partitioned parquet so date-scoped
    queries prune at the directory level instead of scanning all history.

    One rewrite pays forever: the reference's job 1 scans every monthly
    file to count one day; over a `pickup_date=...` layout the same query
    touches one partition. ``maxRecordsPerFile`` caps file size so a hot
    partition still splits across tasks.
    """
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def load_fixture(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load one driver fixture table from ``{sf_dir}/{table}.parquet``."""
    return read_parquet_auto(spark, os.path.join(sf_dir, f"{table}.parquet"))


def parquet_num_rows(path: str) -> int | None:
    """Footer-only total row count of a parquet file/dir/glob (driver-side,
    no scan — the count ships in every footer). None when pyarrow is
    missing or no footers are found."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    files = list_parquet_files(path)
    if not files:
        return None
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def compute_spread_partitions(
    spark: SparkSession, path: str, rows_per_task: int = 256, cap: int | None = None
) -> int:
    """Partition count for CPU-bound narrow stages over a small source.

    Compute-heavy per-row operators (signature matmuls, md5 shingling)
    read tiny-but-dense inputs as 1-2 file splits, which serializes the
    work; blindly repartitioning to defaultParallelism instead drowns the
    job in task/Python-worker/shuffle overhead (measured ~2× slower on a
    2 k-row corpus at 32 tasks vs 8). Footer row counts give the middle
    ground: ~``rows_per_task`` rows per task, capped at the cluster
    parallelism. At real scale the scan already yields many splits and
    callers should pass ``partitions=None`` instead.
    """
    cap = cap or spark.sparkContext.defaultParallelism
    n = parquet_num_rows(path)
    if n is None:
        return cap
    return max(1, min(cap, n // rows_per_task))


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under a path via the Hadoop FileSystem API — works for
    file://, hdfs:// and s3a:// alike (no driver-side os.walk)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(hpath).getLength()


def compact_files(
    spark: SparkSession,
    src: str,
    dest: str,
    target_file_mb: int = 512,
    partition_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> int:
    """Small-file compaction: rewrite a directory into ~target-sized files.

    Streaming sinks and over-parallel writers leave thousands of tiny
    files; at 100 TB that murders scan setup (one task + one open per
    file) and NameNode/listing pressure. Unpartitioned: coalesce to
    ceil(bytes/target) output files (coalesce, not repartition — no
    shuffle, just task merging). Partitioned: preserve the layout and cap
    via maxRecordsPerFile, letting each partition pack independently.

    Returns the file count target (unpartitioned) or 0 (partitioned —
    count is data-dependent).
    """
    # realpath, not abspath: a symlinked dest resolving to src passed the
    # string compare and the overwrite destroyed the source mid-read
    # (code-review r7). Remote URIs can't be resolved locally — refuse
    # exact-string equality for them as the best available guard.
    if os.path.realpath(dest) == os.path.realpath(src) or dest == src:
        # Spark reads the source lazily while the overwrite deletes it —
        # in-place compaction corrupts/loses data. Stage elsewhere + rename.
        raise ValueError("compact_files: dest must differ from src")
    df = read_parquet_auto(spark, src)
    if partition_cols:
        (
            df.repartition(*[F.col(c) for c in partition_cols])
            .write.mode(mode)
            .partitionBy(*partition_cols)
            .parquet(dest)
        )
        return 0
    n_files = max(1, -(-dir_bytes(spark, src) // (target_file_mb * 1024 * 1024)))
    df.coalesce(n_files).write.mode(mode).parquet(dest)
    return n_files
