"""Data-quality invariants (reference A2, A3).

The reference ships these as Airflow operators but never wires them into
the DAG (`dags/manifold.py:27-28`); here they run after every load.

Both are single-pass aggregates (count / group-count) — map-side partial
aggregation keeps the shuffle tiny at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from manifold_spark.schema import SCD2_SENTINEL


class QualityError(AssertionError):
    """A data-quality invariant failed."""


def check_nonempty(n: int, name: str) -> int:
    """Reference A2 (`data_quality_count_operator.py:17,27-48`) on a row
    count already in hand, e.g. one observed on the table's write: fail
    if it is zero. Returns ``n``."""
    if n == 0:
        raise QualityError(f"table {name!r} is empty")
    return n


def duplicate_active_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Business keys with more than one active SCD2 row (reference A3
    intent, `README.md:149-157`; the shipped SQL template is broken —
    SURVEY §2.4 — we implement the documented invariant with the single
    `9999-12-31` sentinel)."""
    return (
        df.filter(F.col("record_end_date") == F.lit(SCD2_SENTINEL).cast("date"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("active_rows"))
        .filter(F.col("active_rows") > 1)
    )


def assert_dim_invariants(df: DataFrame, keys: list[str], name: str) -> int:
    """Both post-merge dimension gates (A2 non-empty + A3 unique-active)
    in ONE Spark action (r14: the sequential pair cost two jobs per
    dimension per week): a single groupBy over the business key computes
    each key's total and active row counts, and one final aggregate
    yields (table rows, duplicate-active groups). A duplicate active key
    fails naming the dimension (the example lookup runs only on that
    rare path), an empty table fails as "empty". Returns the row count."""
    sent = F.lit(SCD2_SENTINEL).cast("date")
    per_key = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n"),
        F.count(F.when(F.col("record_end_date") == sent, F.lit(1))).alias("_na"),
    )
    row = per_key.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).alias("total"),
        F.count(F.when(F.col("_na") > 1, F.lit(1))).alias("dup_groups"),
    ).collect()[0]
    if row["dup_groups"]:
        dups = duplicate_active_keys(df, keys).limit(5).collect()
        raise QualityError(
            f"dimension {name!r} has duplicate active rows, e.g. {dups}"
        )
    if row["total"] == 0:
        raise QualityError(f"table {name!r} is empty")
    return int(row["total"])


def run_checks(df: DataFrame, checks: dict[str, "F.Column"]) -> DataFrame:
    """Declarative data-quality suite: each check is a boolean Column over
    a row ("the row is OK"); the result is one row per check with its
    violation count and pass flag. ALL checks evaluate in a single
    aggregate pass over the table (conditional count per check,
    map-side combined) — never one scan per check, which is the naive
    DQ-framework cost at warehouse scale. Generalizes the reference's
    count/duplicate operators into the expectations style.

    NULL semantics: a row whose predicate evaluates to NULL (e.g.
    ``col("qty") > 0`` with NULL qty) COUNTS AS A VIOLATION — the check
    asserts "the row is demonstrably OK", so unknown fails. This is the
    opposite of SQL CHECK constraints (where NULL passes); a DQ framework
    that lets NULLs slip through a domain check masks exactly the bad
    data it exists to catch (ADVICE r2).

    Check names are carried as literal values (never interpolated into
    SQL), so any string — quotes, backticks, unicode — is a valid name.

    Returns (check_name, n_violations, passed) ordered by check_name."""
    names = list(checks)
    aggs = [
        F.count(F.when(~F.coalesce(cond, F.lit(False)), F.lit(1))).alias(f"_c{i}")
        for i, (_, cond) in enumerate(checks.items())
    ]
    wide = df.agg(*aggs)
    kv = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("check_name"),
                    F.col(f"_c{i}").alias("n_violations"),
                )
                for i, name in enumerate(names)
            ]
        )
    )
    return (
        wide.select(kv.alias("kv"))
        .select("kv.*")
        .withColumn("passed", (F.col("n_violations") == 0).cast("int"))
        .orderBy("check_name")
    )
