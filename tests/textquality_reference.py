"""Reference forms of the text-quality unit extractors.

`lm.extract_char_ngrams` and `repetition.extract_word_ngrams` build
character and word n-grams with one `regexp_extract_all` pass. These
are the forms they replaced, kept only as what the tests pin them
against: positional `substr`/`slice` loops over `sequence` indices
inside higher-order lambdas, plus the struct-tagging of the old
repetition unit relation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def char_ngrams(norm: Column, n: int = 3) -> Column:
    """Array of n-char substrings of the normalized text; shorter than n
    → empty array (guard matters: sequence counts DOWN past zero).
    O(len²) per doc: each `substr(i, n)` seeks from the string start."""
    return F.when(
        F.length(norm) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - (n - 1)),
            lambda i: norm.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_array(norm: Column) -> Column:
    """One-pass character array: split on the empty pattern emits the
    per-position characters (value-identical to `char_ngrams(norm, 1)`);
    '' maps to an empty array."""
    return F.when(F.length(norm) > 0, F.split(norm, "")).otherwise(
        F.array().cast("array<string>")
    )


def char_ngrams_from(chars: Column, n: int = 3) -> Column:
    """n-char grams from a staged `char_array` attribute: gram i is the
    concat of its n single-char elements via `element_at` lookups."""
    if n == 1:
        return chars
    return F.when(
        F.size(chars) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(chars) - n),
            lambda i: F.concat(
                *[F.element_at(chars, (i + j + 1).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_ngrams(tokens: Column, n: int) -> Column:
    """Space-joined word n-grams; fewer than n tokens → empty array.
    The guard matters: sequence(1, k) counts DOWN for k < 1."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - n + 1),
            lambda i: F.array_join(F.slice(tokens, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def tag(kind: str):
    """Struct-tagging lambda factory (a plain closure over the loop var
    would late-bind; a default arg would break HOF arity inspection)."""

    def inner(gram: Column) -> Column:
        return F.struct(F.lit(kind).alias("kind"), gram.alias("gram"))

    return inner
