"""Reference forms of the text-quality unit extractors.

`lm.extract_char_ngrams` and `repetition.extract_word_ngrams` build
character and word n-grams with one `regexp_extract_all` pass. These
are the forms they replaced, kept only as what the tests pin them
against: positional `substr`/`slice` loops over `sequence` indices
inside higher-order lambdas, plus the struct-tagging of the old
repetition unit relation. `repetition_rows` is the pure-Python
reference for whole `repetition_signals` rows.
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


#: Java regex `\s` (no UNICODE_CHARACTER_CLASS): what Spark's `\s+` splits on.
_JAVA_WS = r"[ \t\n\x0b\f\r]+"
#: A Java `$` without MULTILINE also matches before one final line terminator.
_JAVA_END = r"(?:\r\n|[\n\r\u0085\u2028\u2029])?\Z"


def repetition_rows(texts):
    """Pure-Python `repetition.repetition_signals` rows keyed by position
    in ``texts``: the same definitions and integer-exact arithmetic, with
    Spark's string semantics (`trim` strips spaces only, `\\s` is the Java
    class, code-point lengths)."""
    import math
    import re
    from collections import Counter

    from manifold_spark.operators.repetition import (
        _ENT_SCALE,
        DUP_LINE_CHAR_FRAC_MAX,
        DUP_LINE_FRAC_MAX,
        DUP_NGRAM_THRESHOLDS,
        TOP_NGRAM_THRESHOLDS,
    )

    def ws_toks(t):
        return [w for w in re.split(_JAVA_WS, t.strip(" ")) if w]

    def grams(toks, n):
        return Counter(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))

    out = {}
    for doc_id, raw in enumerate(texts):
        text = raw if raw is not None else ""
        dc = max(len(text), 1)
        toks = ws_toks(text.lower())
        lines = [l for l in text.split("\n") if l.strip(" ")]
        lc = Counter(lines)
        total = len(lines)
        row = {
            "doc_id": doc_id,
            "n_lines": total,
            "dup_line_frac": (total - len(lc)) / total if total else 0.0,
            "dup_line_char_frac": sum((c - 1) * len(l) for l, c in lc.items()) / dc,
        }
        passes = (
            row["dup_line_frac"] <= DUP_LINE_FRAC_MAX
            and row["dup_line_char_frac"] <= DUP_LINE_CHAR_FRAC_MAX
        )
        for n, thr in sorted(TOP_NGRAM_THRESHOLDS.items()):
            top = max(((c, len(g)) for g, c in grams(toks, n).items()), default=(0, 0))
            row[f"top_{n}gram_char_frac"] = (top[0] * top[1] if top[0] >= 2 else 0) / dc
            passes = passes and row[f"top_{n}gram_char_frac"] <= thr
        for n, thr in sorted(DUP_NGRAM_THRESHOLDS.items()):
            mass = sum((c - 1) * len(g) for g, c in grams(toks, n).items())
            row[f"dup_{n}gram_char_frac"] = mass / dc
            passes = passes and row[f"dup_{n}gram_char_frac"] <= thr
        row["symbol_word_ratio"] = len(re.findall(r"#|\.\.\.|…", text)) / max(
            len(ws_toks(text)), 1
        )
        row["bullet_line_frac"] = sum(
            1 for l in lines if re.match(r"[-*•]", l.strip(" "))
        ) / max(total, 1)
        row["ellipsis_line_frac"] = sum(
            1 for l in lines if re.search(r"(\.\.\.|…)" + _JAVA_END, l.strip(" "))
        ) / max(total, 1)
        # L·floor(ln L·S) − Σ n_c·floor(ln n_c·S) over code points, one
        # final double division
        counts = Counter(text).values()
        L = sum(counts)
        lnq = lambda n: math.floor(math.log(n) * _ENT_SCALE)  # noqa: E731
        row["char_entropy"] = (
            (L * lnq(L) - sum(c * lnq(c) for c in counts)) / (L * _ENT_SCALE) if L else 0.0
        )
        row["repetition_pass"] = passes
        out[doc_id] = row
    return out
