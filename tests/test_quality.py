"""Failure paths of the quality gates: the invariants must actually fire."""

import datetime as dt

import pytest

from manifold_spark.quality import (
    QualityError,
    assert_dim_invariants,
    check_nonempty,
    duplicate_active_keys,
)

DIM_SCHEMA = "broker string, record_start_date date, record_end_date date"
SENTINEL = dt.date(9999, 12, 31)


def test_empty_table_raises(spark):
    with pytest.raises(QualityError, match="empty"):
        check_nonempty(0, "staging.dim_broker")
    df = spark.createDataFrame([], DIM_SCHEMA)
    with pytest.raises(QualityError, match="empty"):
        assert_dim_invariants(df, ["broker"], "dim_broker")


def test_nonempty_returns_count(spark):
    assert check_nonempty(2, "t") == 2
    df = spark.createDataFrame(
        [("x", dt.date(2024, 1, 1), SENTINEL), ("y", dt.date(2024, 1, 1), SENTINEL)],
        DIM_SCHEMA,
    )
    assert assert_dim_invariants(df, ["broker"], "dim_broker") == 2


def test_duplicate_active_detected(spark):
    rows = [
        ("A", dt.date(2024, 1, 1), SENTINEL),
        ("A", dt.date(2024, 2, 1), SENTINEL),  # second ACTIVE row for A
        ("B", dt.date(2024, 1, 1), SENTINEL),
        ("B", dt.date(2023, 1, 1), dt.date(2023, 12, 31)),  # expired: fine
    ]
    df = spark.createDataFrame(rows, DIM_SCHEMA)
    dups = duplicate_active_keys(df, ["broker"]).collect()
    assert len(dups) == 1 and dups[0]["broker"] == "A" and dups[0]["active_rows"] == 2
    with pytest.raises(QualityError, match="dimension 'dim_broker' has duplicate active"):
        assert_dim_invariants(df, ["broker"], "dim_broker")


def test_expired_only_key_passes(spark):
    df = spark.createDataFrame(
        [("C", dt.date(2023, 1, 1), dt.date(2023, 6, 1))], DIM_SCHEMA
    )
    # no active rows: OK, and the expired row still counts
    assert assert_dim_invariants(df, ["broker"], "dim_broker") == 1


def test_run_checks_counts_violations(spark):
    """Planted violations must be counted per check in one pass."""
    from pyspark.sql import functions as F

    from manifold_spark.quality import run_checks

    df = spark.createDataFrame(
        [(1, 5.0, "A"), (2, -1.0, "A"), (None, 2.0, "X"), (4, 0.0, "N")],
        "k int, qty double, flag string",
    )
    out = {r["check_name"]: (r["n_violations"], r["passed"]) for r in run_checks(
        df,
        {
            "nn_k": F.col("k").isNotNull(),
            "positive_qty": F.col("qty") > 0,
            "flag_domain": F.col("flag").isin("A", "N", "R"),
        },
    ).collect()}
    assert out == {
        "flag_domain": (1, 0),
        "nn_k": (1, 0),
        "positive_qty": (2, 0),
    }


def test_run_checks_null_predicate_fails(spark):
    """A NULL predicate value is a violation, not a silent pass (ADVICE
    r2): NULL qty must fail `qty > 0` even without a separate null check."""
    from pyspark.sql import functions as F

    from manifold_spark.quality import run_checks

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, -1.0)], "k int, qty double"
    )
    out = {
        r["check_name"]: (r["n_violations"], r["passed"])
        for r in run_checks(df, {"positive_qty": F.col("qty") > 0}).collect()
    }
    assert out == {"positive_qty": (2, 0)}


def test_run_checks_hostile_names(spark):
    """Check names containing quotes/backticks must not break (names are
    literal values, never interpolated into SQL)."""
    from pyspark.sql import functions as F

    from manifold_spark.quality import run_checks

    df = spark.createDataFrame([(1,), (2,)], "k int")
    hostile = "it's a `weird`, name\" -- )"
    out = {
        r["check_name"]: (r["n_violations"], r["passed"])
        for r in run_checks(df, {hostile: F.col("k") > 0}).collect()
    }
    assert out == {hostile: (0, 1)}
