"""Reference forms of rewritten production expressions and plans.

Each function here is the form a production builder replaced, kept only
as what the tests pin the production form against (analyzed- or
optimized-tree equality, or equal values):

- `element`, `dot_expr_columns`: the per-term Column chain that
  `linalg.dot_expr` / `norm_expr` / `cosine_expr` render as one SQL
  parse;
- `codes_expr_columns` (with `sq_l2`, `subvec_elements`): the Column
  chain of `pq._codes_expr`;
- `normalized_tokens_replace_form`, `doc_fingerprint_replace_form`: the
  regexp_replace tokenizers that `dedup.normalized_tokens` and
  `textstats.doc_fingerprint` replaced with one `regexp_extract_all`;
- `simhash_bitsum_column`, `simhash_packed_column`: the Column forms of
  `dedup.simhash_fingerprints`' single-parse aggregates;
- `scd2_merge_joins`: the 4-join SCD2 merge that `scd2.scd2_merge`
  replaced with one full-outer join.
"""

from __future__ import annotations

import datetime as dt
import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from manifold_spark.schema import HASH_COL, SCD2_COLS, SCD2_SENTINEL
from manifold_spark.scd2 import _as_date, assign_surrogate_keys, initial_load


def element(col: Column | str, i: int) -> Column:
    """1-based element access, cast to double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(c, i).cast("double")


def dot_expr_columns(a: Column | str, b: Column | str, dim: int) -> Column:
    """Left-associated dot product as a per-term Column chain."""
    return functools.reduce(
        operator.add, (element(a, i) * element(b, i) for i in range(1, dim + 1))
    )


def sq_l2(a_terms: list, b_terms: list) -> Column:
    """Left-associated Σ (aᵢ−bᵢ)² over pre-built element Columns."""
    return functools.reduce(
        operator.add, ((a - b) * (a - b) for a, b in zip(a_terms, b_terms))
    )


def subvec_elements(vec_col: str, j: int, dsub: int) -> list:
    """Element Columns (cast double) of subspace j of a vector column."""
    return [element(vec_col, j * dsub + i) for i in range(1, dsub + 1)]


def codes_expr_columns(
    vec_col: str, codebooks: list[list[list[float]]], dim: int
) -> Column:
    """The PQ codes array as a per-term Column chain: per subspace, the
    struct-array-sort argmin of (squared distance, code)."""
    m, ksub = len(codebooks), len(codebooks[0])
    dsub = dim // m
    codes = []
    for j in range(m):
        sub = subvec_elements(vec_col, j, dsub)
        entries = [
            F.struct(
                sq_l2(sub, [F.lit(v) for v in codebooks[j][c]]).alias("d"),
                F.lit(c).alias("c"),
            )
            for c in range(ksub)
        ]
        codes.append(F.element_at(F.array_sort(F.array(*entries)), 1).getField("c"))
    return F.array(*codes)


def normalized_tokens_replace_form(text: Column) -> Column:
    """The regexp_replace-based tokenizer `dedup.normalized_tokens`
    replaced."""
    cleaned = F.lower(F.regexp_replace(text, r"[^\p{L}\p{N}]+", " "))
    return F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")


def doc_fingerprint_replace_form(text: Column) -> Column:
    """The regexp_replace-based fingerprint `textstats.doc_fingerprint`
    replaced."""
    cleaned = F.lower(F.regexp_replace(text, r"[^A-Za-z0-9]+", " "))
    tokens = F.filter(F.split(F.trim(cleaned), r"\s+"), lambda t: t != "")
    return F.sha2(F.concat_ws(" ", F.sort_array(F.array_distinct(tokens))), 256)


def simhash_bitsum_column(j: int) -> Column:
    """Per-bit ±1 sum over the token hash column `h`."""
    return F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(
        f"b_{j}"
    )


def simhash_packed_column(num_bits: int) -> Column:
    """Packed fingerprint over the bit sums b_0..b_{n-1}."""
    return functools.reduce(
        operator.add,
        [
            F.when(F.col(f"b_{j}") > 0, F.lit(2**j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(num_bits)
        ],
    )


def scd2_merge_joins(
    target: DataFrame | None,
    base: DataFrame,
    sk_col: str,
    keys: list[str],
    as_of: str | dt.date,
) -> DataFrame:
    """The 4-join SCD2 merge (changed-keys inner join → semi → anti →
    staging left join) that the single-pass `scd2.scd2_merge` is pinned
    against on unique, duplicate-staging and duplicate-active inputs."""
    if target is None:
        return initial_load(base, sk_col, keys, as_of)

    as_of = _as_date(as_of)
    payload_cols = base.columns
    as_of_lit = F.lit(as_of.isoformat()).cast("date")
    sentinel = F.lit(SCD2_SENTINEL).cast("date")

    active = target.filter(F.col("record_end_date") == sentinel)
    inactive = target.filter(F.col("record_end_date") != sentinel)

    b = base.alias("b")
    t = active.alias("t")
    key_cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"b.{k}")) for k in keys]

    # J3: active rows whose hash changed → the expire set (identified by key;
    # the unique-active invariant makes the key a sufficient identifier).
    changed_keys = (
        t.join(b, key_cond, "inner")
        .filter(F.col(f"t.{HASH_COL}") != F.col(f"b.{HASH_COL}"))
        .select(*[F.col(f"t.{k}").alias(k) for k in keys])
    )

    # Null business keys must compare null-safely here too, or a null-keyed
    # row is never expired and the unique-active invariant breaks.
    a = active.alias("a")
    ck = changed_keys.alias("ck")
    semi_cond = [F.col(f"a.{k}").eqNullSafe(F.col(f"ck.{k}")) for k in keys]
    expired = (
        a.join(ck, semi_cond, "left_semi")
        .withColumn("record_end_date", F.date_sub(as_of_lit, 1))
    )
    untouched_active = a.join(ck, semi_cond, "left_anti")

    # J4: staging rows that are brand new (no active row) or changed.
    inserts_src = (
        b.join(t, key_cond, "left")
        .filter(
            F.col(f"t.{sk_col}").isNull()
            | (F.col(f"t.{HASH_COL}") != F.col(f"b.{HASH_COL}"))
        )
        .select(*[F.col(f"b.{c}").alias(c) for c in payload_cols])
    )
    inserts = inserts_src.withColumns(
        {
            "record_start_date": as_of_lit,
            "record_end_date": sentinel,
        }
    )
    max_sk = target.agg(F.max(sk_col)).collect()[0][0] or 0
    inserts = assign_surrogate_keys(inserts, sk_col, keys, offset=max_sk)

    ordered = [sk_col, *payload_cols, *SCD2_COLS]
    return (
        inactive.select(*ordered)
        .unionByName(untouched_active.select(*ordered))
        .unionByName(expired.select(*ordered))
        .unionByName(inserts.select(*ordered))
    )
