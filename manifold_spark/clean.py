"""Row-level cleaning / standardization transforms (reference P2-P7).

All pure Column expressions — single narrow projection, fully inside
whole-stage codegen; no shuffle, no UDF. At 100 TB this stage is
scan-bound: Catalyst collapses the whole chain into one projection over
the source scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from manifold_spark import schema as S
from manifold_spark.schema import snake_case

#: HTML-tag strip pattern: removes every tag except `<a …>` / `</a>`
#: (reference P4, `/root/reference/scripts/el_to_parquet.py:66-69`).
#: Java regex supports the negative lookahead.
HTML_STRIP_PATTERN = r"<(?!\/?a(?=>|\s.*>))\/?.*?>"


def fill_defaults(
    df: DataFrame,
    numeric_cols: list[str] | None = None,
    text_cols: list[str] | None = None,
    numeric_default: float = -1.0,
    text_default: str = "Unknown",
) -> DataFrame:
    """Null-default numerics to -1 and text to "Unknown" (reference P2/P3,
    `el_to_parquet.py:53-64`)."""
    numeric_cols = S.NUMERIC_DEFAULT_COLS if numeric_cols is None else numeric_cols
    text_cols = S.TEXT_DEFAULT_COLS if text_cols is None else text_cols
    present = set(df.columns)
    df = df.fillna(numeric_default, subset=[c for c in numeric_cols if c in present])
    df = df.fillna(text_default, subset=[c for c in text_cols if c in present])
    return df


def strip_html_col(col: Column) -> Column:
    """Remove HTML tags except `<a>` anchors (reference P4)."""
    return F.regexp_replace(col, HTML_STRIP_PATTERN, "")


def truncate_col(col: Column, max_len: int = S.TRUNCATE_LENGTH) -> Column:
    """Cap string length at ``max_len`` (reference P5, `el_to_parquet.py:77-95`).

    `substring` alone is equivalent for the over-length case; the reference's
    explicit when/otherwise is preserved so untouched values keep identity.
    """
    return F.when(F.length(col) > max_len, F.substring(col, 1, max_len)).otherwise(col)


def clean_text_cols(df: DataFrame, cols: list[str] | None = None, max_len: int = S.TRUNCATE_LENGTH) -> DataFrame:
    """HTML-strip then truncate the long-text columns (reference order:
    strip at :67-69, truncate at :329-330 — strip first)."""
    cols = S.CLEANED_TEXT_COLS if cols is None else cols
    exprs = []
    for c in df.columns:
        if c in cols:
            exprs.append(truncate_col(strip_html_col(F.col(c)), max_len).alias(c))
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename columns in a single projection (reference P6 renames
    `PriceCurrencyFormated` → `Price`, `el_to_parquet.py:72`)."""
    return df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])


def snake_case_columns(df: DataFrame) -> DataFrame:
    """Snake-case every column name in ONE projection (reference P7 loops
    `withColumnRenamed`, `el_to_parquet.py:98-116`; a single select produces
    one Project node instead of N)."""
    return df.select(*[F.col(c).alias(snake_case(c)) for c in df.columns])


def clean_listings(df: DataFrame) -> DataFrame:
    """The full reference cleaning chain (P1-P7) over raw listings:
    project contract → default nulls → strip/cap text → rename price →
    snake_case. One stage, no shuffle."""
    present = [c for c in S.ALLOWED_ATTRIBUTES if c in df.columns]
    df = df.select(*present)
    df = fill_defaults(df)
    df = clean_text_cols(df)
    df = rename_columns(df, S.RENAMED_ATTRIBUTES)
    return snake_case_columns(df)
