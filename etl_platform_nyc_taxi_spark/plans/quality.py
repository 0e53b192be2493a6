"""Data-quality guards (SURVEY.md §2.9 C1-C4) as reusable checks.

The reference embeds these inline in job 1
(calculate_daily_transactions.py:91-103); the engine exposes them as
composable helpers that avoid the reference's RDD conversion and
collect-then-rebuild anti-patterns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DataQualityError(ValueError):
    """Raised when a quality guard trips (parity with the reference's
    ValueError at calculate_daily_transactions.py:92,100)."""


def require_nonempty(df: DataFrame, context: str = "input") -> DataFrame:
    """C1: fail fast on empty input. ``df.isEmpty()`` is an O(1 partition)
    probe — not the reference's ``df.rdd.isEmpty()`` which forces a full
    DataFrame→RDD conversion plan."""
    if df.isEmpty():
        raise DataQualityError(f"No data found in the {context}")
    return df


def require_nonnegative(df: DataFrame, col: str) -> DataFrame:
    """C4: distributed assertion that ``col`` ≥ 0 — no collect; one
    aggregate over the (already tiny) result."""
    bad = df.filter(F.col(col) < 0).limit(1).count()
    if bad:
        raise DataQualityError(f"negative value in column {col!r}")
    return df


def quality_report(
    df: DataFrame,
    rules: "dict[str, F.Column]",
    ref_checks: "dict[str, tuple[DataFrame, str, str]] | None" = None,
) -> DataFrame:
    """Declarative expectation suite → one violation-count row per rule
    (the dbt-test / Great-Expectations shape, engine-side).

    ``rules`` maps rule name → a BOOLEAN expectation column (true = row
    passes); all rules evaluate in ONE scan as conditional-sum aggregates
    (no per-rule pass, no collect). ``ref_checks`` adds referential
    integrity: rule name → (dimension_df, fact_key, dim_key), counted as
    fact rows whose key has no match — a broadcast anti-join per check,
    the standard FK-violation plan.

    Output: (rule, n_violations) — violations, not passes, so an empty
    report section means healthy, and the relation is |rules|-sized
    regardless of input width."""
    # NULL expectations count as VIOLATIONS (SQL three-valued logic would
    # silently pass them: NOT NULL = NULL = not counted) — an expectation
    # that cannot evaluate is a data problem, not a pass.
    #
    # Aggregates alias POSITIONALLY and rule names enter only as string
    # LITERALS in the unpivot structs — caller-supplied names never parse
    # as SQL, so any name (spaces, quotes, unicode) is safe.
    names = list(rules)
    aggs = [
        F.sum(F.when(F.coalesce(expect, F.lit(False)), 0).otherwise(1))
        .cast("long")
        .alias(f"__r{i}")
        for i, expect in enumerate(rules.values())
    ]
    wide = df.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("rule"),
                        F.col(f"__r{i}").alias("n_violations"),
                    )
                    for i, n in enumerate(names)
                ]
            )
        ).alias("__kv")
    ).select("__kv.rule", "__kv.n_violations")
    out = stacked
    for name, (dim, fact_key, dim_key) in (ref_checks or {}).items():
        missing = (
            df.join(
                F.broadcast(dim.select(F.col(dim_key).alias(fact_key)).distinct()),
                on=fact_key,
                how="left_anti",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
            .select(F.lit(name).alias("rule"), "n_violations")
        )
        out = out.unionByName(missing)
    return out


def observed_metrics(
    df: DataFrame, name: str = "metrics", exprs: dict[str, "F.Column"] | None = None
):
    """Attach single-pass pipeline metrics via ``df.observe`` — row
    counts, null counts, sums collected DURING the job's own action, so
    the quality numbers every production pipeline wants cost ZERO extra
    scans (quality_report runs a separate aggregate; this piggybacks on
    the write/collect that runs anyway).

    Returns ``(observed_df, observation)``: run any action on
    ``observed_df``, then read ``observation.get`` — a dict of the
    metric values for exactly the rows that action processed. Works
    identically under streaming (per-batch metrics via the listener).

    Default metrics: ``n_rows``. Pass ``exprs`` to add more; every
    expression must be an aggregate over the observed relation.
    """
    from pyspark.sql import Observation

    exprs = exprs or {}
    obs = Observation(name)
    cols = [F.count(F.lit(1)).alias("n_rows")] + [
        c.alias(k) for k, c in exprs.items()
    ]
    return df.observe(obs, *cols), obs
