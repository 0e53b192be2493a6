"""Core relational operators (SURVEY.md §2.4 A1-A2, §2.7 U1).

Typed helpers over the DataFrame API for the shapes that need more than one
call (grouping modes, n-ary unions, skew-salted aggregation); every call
constructs the exact Catalyst node you'd write by hand, so
pushdown/pruning/codegen behave identically. Single-call operators
(select, filter, withColumns, distinct, orderBy, limit) are used directly
on the DataFrame.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def aggregate(
    df: DataFrame,
    keys: Sequence[str | Column],
    aggs: Mapping[str, Column] | Sequence[Column],
    mode: str = "groupby",
) -> DataFrame:
    """A1/A2 + full agg family. ``mode``: groupby | rollup | cube.

    Spark's hash aggregate is automatically two-phase (partial map-side
    combine → shuffle on keys → final), so a count over 100 TB shuffles
    only one partial row per key per task — nothing to hand-optimize.
    ``aggs`` as a mapping aliases each expression to its key (alias
    discipline keeps engine output columns oracle-comparable).
    """
    if isinstance(aggs, Mapping):
        exprs = [c.alias(name) for name, c in aggs.items()]
    else:
        exprs = list(aggs)
    grouping = {
        "groupby": df.groupBy,
        "rollup": df.rollup,
        "cube": df.cube,
    }[mode]
    return grouping(*keys).agg(*exprs)


def union_all(*dfs: DataFrame) -> DataFrame:
    """U1: positional bag union (reference semantics:
    dags/spark_jobs/calculate_top_taxi_zones.py:77-79). Prefer a single
    multi-file scan over unioning per-file results — the reference's loop
    is its defect D1."""
    if not dfs:
        raise ValueError("union_all needs at least one DataFrame")
    return reduce(DataFrame.union, dfs)


def union_by_name(*dfs: DataFrame, allow_missing: bool = False) -> DataFrame:
    """Name-resolved union — survives column-order drift across sources."""
    if not dfs:
        raise ValueError("union_by_name needs at least one DataFrame")
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing), dfs
    )


def _hashable_salt_cols(df: DataFrame) -> list[str]:
    """Columns usable inside ``F.hash`` for the deterministic salt:
    Spark's ``hash()`` raises AnalysisException on MapType (maps have no
    canonical order), including maps nested in arrays/structs — walk the
    type tree and drop any column that contains one."""
    from pyspark.sql import types as T

    def has_map(dt: T.DataType) -> bool:
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    return [f.name for f in df.schema.fields if not has_map(f.dataType)]


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[Column, Column]],
    salt_buckets: int = 16,
    pre_count: bool = False,
) -> DataFrame:
    """Skew-tolerant two-stage aggregation: group by (keys, salt) first so
    a hot key's rows spread over ``salt_buckets`` reducers, then combine
    partials by the real keys.

    ``aggs`` maps output name → (partial_expr, final_expr-over-partial),
    e.g. ``{"cnt": (F.count(F.lit(1)), F.sum("cnt"))}`` or
    ``{"sum_v": (F.sum("v"), F.sum("sum_v"))}`` — the decomposition must
    be algebraic (count/sum/min/max), which is also why the result is
    EXACTLY the direct groupBy (oracle-identical). Use when one key holds
    an outsized share of rows and AQE's skew handling can't help because
    the skew is in the aggregate itself, not a join.

    The salt is a DETERMINISTIC content hash (code-review r7): the old
    spark_partition_id + monotonically_increasing_id salt changed values
    when a failed map task re-ran, so a mid-shuffle retry could
    double-count rows into one (key, salt) partial and drop them from
    another — the exact rand()-class hazard salted_join's contract
    forbids. Hashing the full row spreads a hot key's DISTINCT rows.
    Map-typed columns (which ``hash()`` rejects) are excluded from the
    salt automatically. Two degenerate shapes stay unsplit, because no
    deterministic function can separate identical inputs: a hot key of
    byte-identical duplicate rows, and more generally a hot key whose
    non-key values are LOW-CARDINALITY — every distinct (key, payload)
    tuple lands in one salt bucket, so at most
    distinct-payloads-per-key buckets fill. For that shape pass
    ``pre_count=True``: identical rows are first collapsed to one row
    plus a ``__mult`` multiplicity column (the collapsing groupBy keys on
    the row CONTENT, so it spreads over reducers by itself), and your
    partial exprs must then weight by it — count → ``F.sum("__mult")``,
    sum(v) → ``F.sum(F.col("v") * F.col("__mult"))``; min/max unchanged.
    """
    salt_cols = _hashable_salt_cols(df)
    if pre_count:
        if len(salt_cols) != len(df.columns):
            # groupBy on a MapType column raises deep inside analysis;
            # collapsing on a map-free SUBSET instead would silently
            # merge rows that differ only in map content and corrupt
            # any aggregate that reads those maps — refuse loudly.
            raise ValueError(
                "salted_aggregate(pre_count=True): row-content collapse "
                "cannot group by MapType columns — serialize or drop "
                "them first"
            )
        df = df.groupBy(*df.columns).agg(F.count(F.lit(1)).alias("__mult"))
        # __mult is derived FROM the hashed content, so including it in
        # the salt is harmless; after collapsing, each row is a distinct
        # content tuple and the hash spreads them.
    elif not salt_cols:
        raise ValueError(
            "salted_aggregate: every column contains a MapType — no "
            "deterministic salt is possible; drop or serialize the map "
            "columns first"
        )
    elif len(salt_cols) < len(df.columns) and set(salt_cols) <= set(keys):
        # Map columns were excluded from the salt AND what remains is
        # only the grouping keys: the salt would hash only the keys —
        # constant per key, which silently defeats the one job this
        # function has (advisor r8).  Results would still be correct,
        # so this is a loud refusal rather than a wrong answer:
        # serialize the map payloads or use pre_count=True on a
        # map-free projection.  NOTE the guard is scoped to the
        # map-exclusion case (advisor r9): a map-free keys-only
        # projection (df.columns == keys) passes through — its salt is
        # likewise constant per key, a documented no-op, because the
        # rows carry no payload to separate; use pre_count=True there
        # if the key is hot with duplicate rows.
        raise ValueError(
            "salted_aggregate: after excluding MapType columns, the "
            "remaining salt columns are exactly the grouping keys "
            "(constant per key) and the skew mitigation would be a "
            "silent no-op — serialize the map columns or collapse with "
            "pre_count=True on a map-free projection"
        )
    salt = F.pmod(F.hash(*[F.col(c) for c in salt_cols]), F.lit(salt_buckets))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(*[expr.alias(name) for name, (expr, _) in aggs.items()])
    )
    return partial.groupBy(*keys).agg(
        *[fin.alias(name) for name, (_, fin) in aggs.items()]
    )
