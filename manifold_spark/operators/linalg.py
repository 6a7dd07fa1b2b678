"""Vector expression helpers for embedding columns (`array<float>`).

Cross-engine determinism: both the Spark expression and the generated
oracle SQL expand the dot product as the SAME left-associated chain of
double multiplies/adds (`((a1*b1 + a2*b2) + a3*b3) + …`), so results are
bit-identical — no tolerance needed in the correctness gate. Elements are
cast float→double (exact) before any arithmetic so neither engine does
float math.

One rendering: every vector expression is built as ONE Spark-SQL text
and parsed by ONE `F.expr` call (a per-term Column chain costs ~400 py4j
round trips per call — r14: plan-construction time dominated the sim
rows' wall clock; guide §7.3 "avoid generating gigantic expression trees
in loops"). Column names go through `_quote_name`, which backtick-quotes
each dot segment, so keywords, spaces and nested fields all parse;
double literals go through `double_sql`, which renders non-finite values
through `CAST`. The Column chains these texts replaced live in
`tests/reference_forms.py`, which pins each parsed tree against them.

Scale note: a 64-term expression tree per pair is whole-stage-codegen'd
into straight-line JVM code — this is the fast path for brute-force
scoring; no UDF, no Arrow transfer.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _quote_name(name: str) -> str:
    """Backtick every dot-segment: `F.col("a.b")` and the parsed
    ``` `a`.`b` ``` resolve to the same nested-field reference, and the
    backticks keep SQL keywords (`order`, `case`, …) and names with
    spaces valid."""
    return ".".join(f"`{seg}`" for seg in name.split("."))


def _dot_terms_sql(a: str, b: str, dim: int) -> str:
    """Spark-SQL text of the left-associated dot product: `+` is
    left-associative in the parser and `element_at`/`CAST` resolve to the
    same Catalyst nodes as their Column builders, so one `F.expr` parse
    analyzes to the per-term Column chain's exact tree."""
    qa, qb = _quote_name(a), _quote_name(b)
    return " + ".join(
        f"(CAST(element_at({qa}, {i}) AS DOUBLE) * CAST(element_at({qb}, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )


def dot_expr(a: str, b: str, dim: int) -> Column:
    """Left-associated dot product of two vector columns."""
    return F.expr(_dot_terms_sql(a, b, dim))


def norm_expr(a: str, dim: int) -> Column:
    return F.expr(f"sqrt({_dot_terms_sql(a, a, dim)})")


def cosine_expr(a: str, b: str, dim: int) -> Column:
    """Cosine similarity, with zero-norm vectors defined as similarity
    0.0 — NOT left to x/0: under Spark's ANSI mode (default since 4.x) a
    raw division throws `DIVIDE_BY_ZERO` the first time a real corpus
    contains a zero embedding (found by the hypothesis property test in
    `test_lsh_properties.py`). The guard compares the exact product of
    norms, so every nonzero pair divides by the identical value as
    before — bit-identical to the SQL mirror either way."""
    denom_sql = f"(sqrt({_dot_terms_sql(a, a, dim)}) * sqrt({_dot_terms_sql(b, b, dim)}))"
    # `0.0D` (double literal), NOT `0.0` (decimal): the zero-norm branch
    # must be a DoubleType literal like `F.lit(0.0)`.
    return F.expr(
        f"CASE WHEN {denom_sql} > 0 THEN ({_dot_terms_sql(a, b, dim)}) / {denom_sql} "
        f"ELSE 0.0D END"
    )


def double_sql(v) -> str:
    """SQL text of one double literal. repr() of a finite Python float is
    the shortest round-trip decimal and Java's Double.parseDouble returns
    the identical bits; a negative value parses as UnaryMinus(lit),
    which ConstantFolding collapses to the identical negative Literal
    at optimize time. SQL has no NaN/Infinity literal, so non-finite
    values render as a string cast, which folds to the same double."""
    f = float(v)
    if math.isnan(f):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(f):
        return "CAST('Infinity' AS DOUBLE)" if f > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(f) + "D"


def _doubles_array_sql(values) -> str:
    """SQL text of a (possibly nested) array<double> literal — see
    `double_sql` for why the parsed values are bit-identical to the
    per-element `F.lit` loop (pinned by the fastpath equivalence
    tests)."""
    parts = []
    for v in values:
        if isinstance(v, (list, tuple)):
            parts.append(_doubles_array_sql(v))
        else:
            parts.append(double_sql(v))
    if not parts:
        raise ValueError("empty array level would parse untyped")
    return "array(" + ", ".join(parts) + ")"


def lit_double_array(values) -> Column:
    """(Possibly nested) array<double> literal built in ONE JVM parse —
    the per-element `F.lit` loop costs ~2 py4j round trips per element,
    thousands per codebook (r14: plan-construction time dominated the
    sim rows' wall clock). Values are bit-identical to the loop form."""
    return F.expr(_doubles_array_sql(values))


def dot_sql(a: str, b: str, dim: int) -> str:
    """DuckDB SQL mirroring `dot_expr` term-for-term (1-based list index)."""
    return " + ".join(
        f"(CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE))" for i in range(1, dim + 1)
    )


def cosine_sql(a: str, b: str, dim: int) -> str:
    """Mirrors `cosine_expr` including its zero-norm guard."""
    denom = f"(sqrt({dot_sql(a, a, dim)}) * sqrt({dot_sql(b, b, dim)}))"
    return f"(CASE WHEN {denom} > 0 THEN ({dot_sql(a, b, dim)}) / {denom} ELSE 0.0 END)"
