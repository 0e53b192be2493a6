"""Pipeline semantics: zero-fill, D1 per-file-vs-global deviation pinned,
quality guards."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_platform_nyc_taxi_spark.plans.daily_transactions import (
    daily_counts,
    daily_transactions,
)
from etl_platform_nyc_taxi_spark.plans.quality import (
    DataQualityError,
    require_nonempty,
    require_nonnegative,
)
from etl_platform_nyc_taxi_spark.plans.top_zones import top_k_zones, top_k_zones_perfile


def test_daily_counts_all_days(trips):
    got = {(r["transaction_date"].isoformat(), r["total_transactions"])
           for r in daily_counts(trips).collect()}
    assert got == {
        ("2024-01-01", 2), ("2024-01-02", 2), ("2024-01-03", 1), ("2024-01-04", 2),
        ("2024-02-01", 2), ("2024-02-02", 1),
    }


def test_daily_transactions_present_day(trips):
    out = daily_transactions(trips, "2024-01-01", audit=False).collect()
    assert len(out) == 1
    assert out[0]["total_transactions"] == 2


def test_daily_transactions_zero_fill(trips):
    # C3 parity: an empty day still yields exactly one row with count 0.
    out = daily_transactions(trips, "2024-06-01", audit=False).collect()
    assert len(out) == 1
    assert out[0]["transaction_date"] == dt.date(2024, 6, 1)
    assert out[0]["total_transactions"] == 0


def test_daily_transactions_plan_shape_and_schema(spark, trips, tmp_path):
    """C2/C3 in one plan: the zero-fill is a global aggregate, so the
    physical plan holds no join, no broadcast and no driver-built RDD."""
    src = str(tmp_path / "trips")
    trips.write.parquet(src)
    out = daily_transactions(spark.read.parquet(src), "2024-01-01")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("BroadcastHashJoin", "BroadcastNestedLoopJoin",
                 "BroadcastExchange", "Scan ExistingRDD"):
        assert node not in plan, node
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("transaction_date", "date"),
        ("total_transactions", "bigint"),
        ("calculated_at", "timestamp"),
    ]
    assert out.collect()[0]["total_transactions"] == 2


def test_daily_transactions_zero_row_input(spark):
    empty = spark.createDataFrame([], "pickup_datetime timestamp")
    out = daily_transactions(empty, "2024-06-01", audit=False).collect()
    assert [tuple(r) for r in out] == [(dt.date(2024, 6, 1), 0)]


def test_daily_transactions_audit_column(trips):
    out = daily_transactions(trips, "2024-01-01").collect()[0]
    assert out["calculated_at"] is not None


def test_top_k_zones_global_semantics(trips):
    # Corrected D1: global counts zone1=4, zone2=3, zone5=2, zone3=1
    out = top_k_zones(trips, "2024-12-31", k=2, audit=False).collect()
    assert [(r["taxi_zone_id"], r["rank"]) for r in out] == [(1, 1), (2, 2)]


def test_top_k_zones_perfile_reproduces_reference_defect(spark, trips):
    # D1 pinned: per-file ranking then union → duplicate zones, colliding
    # ranks — the reference's actual (buggy) output shape.
    m1 = trips.filter(F.col("month") == "m1")
    m2 = trips.filter(F.col("month") == "m2")
    out = top_k_zones_perfile([m1, m2], "2024-12-31", k=2).collect()
    pairs = sorted((r["taxi_zone_id"], r["rank"]) for r in out)
    # m1: zone1=3, zone2=3 (tie → both rank 1), zone3=1 (rank 2, kept by k=2)
    # m2: zone5=2 (rank 1), zone1=1 (rank 2)
    assert pairs == [(1, 1), (1, 2), (2, 1), (3, 2), (5, 1)]  # zone 1 twice
    # …whereas corrected global top-2 has no duplicates:
    glob = top_k_zones(trips, "2024-12-31", k=2, audit=False).collect()
    assert len({r["taxi_zone_id"] for r in glob}) == len(glob)


def test_top_k_zones_cutoff_filters(trips):
    out = top_k_zones(trips, "2024-01-31", k=1, audit=False).collect()
    assert [(r["taxi_zone_id"], r["rank"]) for r in out] == [(1, 1), (2, 1)]  # tie kept


def test_require_nonempty(spark, trips):
    require_nonempty(trips)  # passes
    with pytest.raises(DataQualityError, match="No data found"):
        require_nonempty(trips.filter(F.lit(False)), context="input files")


def test_require_nonnegative(spark):
    df = spark.createDataFrame([(1,), (-2,)], "v int")
    with pytest.raises(DataQualityError, match="negative"):
        require_nonnegative(df, "v")


def test_quality_report_counts_and_fk(spark):
    from pyspark.sql import functions as F

    from etl_platform_nyc_taxi_spark.plans.quality import quality_report

    facts = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -1.0, "B"), (3, None, "A"), (4, 5.0, "Z")],
        "k long, amount double, code string",
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    out = {
        r["rule"]: r["n_violations"]
        for r in quality_report(
            facts,
            rules={
                "amount_positive": F.col("amount") > 0,  # -1 fails, NULL fails
                "code_known": F.col("code").isin("A", "B"),
            },
            ref_checks={"k_in_dim": (dim, "k", "k")},
        ).collect()
    }
    assert out == {"amount_positive": 2, "code_known": 1, "k_in_dim": 1}


def test_quality_report_null_expectation_is_violation(spark):
    from pyspark.sql import functions as F

    from etl_platform_nyc_taxi_spark.plans.quality import quality_report

    df = spark.createDataFrame([(None,), (1.0,)], "x double")
    out = quality_report(df, rules={"x_positive": F.col("x") > 0}).collect()
    assert out[0]["n_violations"] == 1  # NULL > 0 is NULL -> violation


def test_quality_report_hostile_rule_names(spark):
    from pyspark.sql import functions as F

    from etl_platform_nyc_taxi_spark.plans.quality import quality_report

    df = spark.createDataFrame([(1.0,), (-2.0,)], "x double")
    out = {
        r["rule"]: r["n_violations"]
        for r in quality_report(
            df, rules={"x > 0 (shouldn't break)": F.col("x") > 0}
        ).collect()
    }
    assert out == {"x > 0 (shouldn't break)": 1}


def test_observed_metrics_single_pass(spark):
    """df.observe piggybacks quality metrics on the job's own action —
    the counts must describe exactly the rows the action processed, with
    no second scan issued (one aggregate dict per action)."""
    from pyspark.sql import functions as F

    from etl_platform_nyc_taxi_spark.plans.quality import observed_metrics

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10 == 0).cast("int").alias("flag")
    )
    observed, obs = observed_metrics(
        df,
        exprs={
            "n_flagged": F.sum("flag"),
            "n_null_ids": F.sum(F.col("id").isNull().cast("int")),
        },
    )
    out = observed.filter(F.col("id") < 999).write.format("noop").mode(
        "overwrite"
    )
    out.save()
    got = obs.get
    assert got["n_rows"] == 100
    assert got["n_flagged"] == 10
    assert got["n_null_ids"] == 0


def test_corpus_budget_build_ledger_invariants(spark):
    """The capstone ledger: every input doc appears exactly once with
    exactly one stage, kept tokens per lang never exceed the UniMax
    allocation, and the stage set is the documented closed set."""
    from etl_platform_nyc_taxi_spark.queries_registry import QUERIES

    rows = QUERIES["corpus_budget_build"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    import duckdb

    n_docs = duckdb.sql(
        "SELECT COUNT(*) FROM '/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs
    stages = {r["stage"] for r in rows}
    assert stages <= {
        "eval_holdout", "dropped_quality", "dropped_contaminated",
        "dropped_dup", "dropped_budget", "kept",
    }
    assert "kept" in stages and "eval_holdout" in stages
    # budget respected per lang: kept tokens <= alloc <= lang survivor total
    from collections import defaultdict

    kept_tok = defaultdict(int)
    surv_tok = defaultdict(int)
    for r in rows:
        if r["stage"] in ("kept", "dropped_budget"):
            surv_tok[r["lang"]] += r["n_tok"]
            if r["stage"] == "kept":
                kept_tok[r["lang"]] += r["n_tok"]
    total_budget = sum(surv_tok.values()) // 2
    assert sum(kept_tok.values()) <= total_budget
    for lang, kt in kept_tok.items():
        assert kt <= surv_tok[lang]


def test_curriculum_stages_quartile_invariants(spark):
    """Stage sizes within 1 of n/4 per lang; stage monotone in score."""
    from collections import defaultdict

    from etl_platform_nyc_taxi_spark.queries_registry import QUERIES

    rows = QUERIES["curriculum_stages"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append((r["entropy_micro"], r["doc_id"], r["stage"]))
    for lang, xs in by_lang.items():
        xs.sort()
        n = len(xs)
        # monotone: stages non-decreasing along the score order
        stages = [s for _, _, s in xs]
        assert stages == sorted(stages), lang
        # balanced: each stage holds floor/ceil of n/4
        from collections import Counter

        c = Counter(stages)
        for s in (1, 2, 3, 4):
            if n >= 4:
                assert n // 4 <= c[s] <= n // 4 + 1, (lang, s, c)
