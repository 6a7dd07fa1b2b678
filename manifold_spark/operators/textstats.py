"""Text analysis operators: language id, quality scoring, token counting,
document fingerprinting. All built-in column expressions (regexp counts,
array ops) — one narrow projection per document, no shuffle, no UDF;
at 100 TB this is a pure scan-side map.

The marker lists and patterns are module constants so the oracle SQL is
generated from the SAME definitions (see `operators/__init__.py`) —
engine and oracle cannot drift apart.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Language marker words (public stopword samples). Order defines the
#: tie-break priority of the classifier.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "que", "une"],
    "es": ["el", "los", "las", "es", "y", "que", "una"],
}

#: CJK unified ideograph range as a literal char-class (works in both Java
#: regex and RE2 without engine-specific escapes).
CJK_PATTERN = "[一-鿿]"

#: BPE-ish pre-tokenizer: letter runs, single digits, punctuation marks.
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

PUNCT_PATTERN = r"[^\w\s]"
ALPHA_PATTERN = r"[A-Za-z]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens; empty/whitespace-only text → empty array.

    r8 fix (coordinated engine+oracle swap, found by the repetition
    pure-Python pin): `trim` strips SPACES only, so text edged by other
    whitespace (e.g. a trailing newline) used to keep an empty token
    from the split — "a\\nb\\n" counted 3 tokens. Empty tokens are now
    filtered on BOTH engines (`_ws_tokens_sql` mirrors), so token counts
    reflect actual words; gate values on the whitespace-clean corpus are
    unchanged (verified by the full sf0.01 mirror)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count_ws(text: Column) -> Column:
    return F.size(ws_tokens(text)).cast("int")


def token_count_bpe(text: Column) -> Column:
    """Token count under the BPE-ish regex — the cheap proxy for LLM token
    budgeting at corpus scale."""
    return F.regexp_count(text, F.lit(BPE_PATTERN)).cast("int")


def marker_count_in(tokens: Column, markers: list[str]) -> Column:
    """How many of the (already lowercased) ``tokens`` are in the marker
    list (with repeats) — the shared-tokenization form (r14): callers
    that need several marker counts stage `ws_tokens(lower(text))` ONCE
    as a column and pass it here, instead of re-tokenizing per count
    (higher-order filters are codegen-fallback, so Spark's subexpression
    elimination never dedupes the repeated splits)."""
    lit_markers = F.array(*[F.lit(m) for m in markers])
    return F.size(
        F.filter(tokens, lambda t: F.array_contains(lit_markers, t))
    ).cast("int")


def language_id_from_counts(
    counts: dict[str, Column], cjk_count: Column
) -> Column:
    """`language_id` over precomputed per-language marker COUNTS (r14
    staging, one level deeper than `language_id_from`): the CASE
    references each count ~5× (once in `greatest`, once per branch
    compare), and a `size(filter(...))` count is a lambda expression, so
    codegen subexpression elimination never dedupes it — callers that can
    stage columns project each count ONCE and pass the attributes here.
    Value-identical: the same counts feed the same greatest/compare
    tree."""
    best = F.greatest(*counts.values())
    expr = F.when(cjk_count > 0, F.lit("zh")).when(best == 0, F.lit("und"))
    for lang in LANG_MARKERS:
        expr = expr.when(counts[lang] == best, F.lit(lang))
    return expr


def language_id_from(tokens_low: Column, cjk_count: Column) -> Column:
    """`language_id` over a precomputed lowercase token array + CJK char
    count — evaluates the tokenization zero times itself (r14; value-
    identical to `language_id`, which delegates here)."""
    counts = {lang: marker_count_in(tokens_low, m) for lang, m in LANG_MARKERS.items()}
    return language_id_from_counts(counts, cjk_count)


def language_id(text: Column) -> Column:
    """Heuristic language id: CJK chars → zh, else the marker list with the
    highest hit count (ties resolved in LANG_MARKERS order); no hits →
    'und' (undetermined)."""
    return language_id_from(
        ws_tokens(F.lower(text)), F.regexp_count(text, F.lit(CJK_PATTERN))
    )


def quality_metrics_from(
    text: Column, tokens_ws: Column, tokens_low: Column,
    n_stop: Column | None = None,
) -> dict[str, Column]:
    """`quality_metrics` over precomputed token arrays (r14): callers
    stage `ws_tokens(text)` / `ws_tokens(lower(text))` once per row and
    every ratio reuses them — value-identical to `quality_metrics`,
    which delegates here. ``n_stop`` optionally injects a PRE-STAGED
    stopword count column (r14 round-close: the count is a lambda
    filter, excluded from codegen CSE, and stop_ratio's tree is expanded
    twice — once standalone, once inside quality_score)."""
    n_tokens = F.size(tokens_ws).cast("int")
    n_chars = F.length(text)
    n_punct = F.regexp_count(text, F.lit(PUNCT_PATTERN))
    n_alpha = F.regexp_count(text, F.lit(ALPHA_PATTERN))
    all_markers = sorted({m for ms in LANG_MARKERS.values() for m in ms})
    if n_stop is None:
        n_stop = marker_count_in(tokens_low, all_markers)
    denom_chars = F.greatest(n_chars, F.lit(1))
    denom_tokens = F.greatest(n_tokens, F.lit(1))
    punct_ratio = n_punct / denom_chars
    alpha_ratio = n_alpha / denom_chars
    stop_ratio = n_stop / denom_tokens
    mean_token_len = n_chars / denom_tokens
    score = (
        F.least(F.lit(1.0), n_tokens / F.lit(200.0)) * 0.4
        + alpha_ratio * 0.4
        + F.least(F.lit(0.2), stop_ratio)
    )
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars.cast("int"),
        "punct_ratio": punct_ratio,
        "alpha_ratio": alpha_ratio,
        "stop_ratio": stop_ratio,
        "mean_token_len": mean_token_len,
        "quality_score": score,
    }


def quality_metrics(text: Column) -> dict[str, Column]:
    """The standard cheap quality signals: token count, mean token length,
    punctuation ratio, alphabetic ratio, stopword ratio, composite score.
    Every expression is deterministic double arithmetic (oracle-exact)."""
    return quality_metrics_from(text, ws_tokens(text), ws_tokens(F.lower(text)))


def doc_fingerprint(text: Column) -> Column:
    """Order-insensitive content fingerprint: lowercase → alnum-only
    tokens → distinct → sort → sha256. Robust to word reordering and
    duplication; the cheap canonical key for fuzzy-exact dedup.

    r15 (guide §1.2 per-task work): tokens come from ONE
    `regexp_extract_all('[A-Za-z0-9]+')` pass instead of
    regexp_replace-to-spaces + split + filter — `RegExpReplace` pays a
    per-match replacement-buffer rebuild, measured 51× slower on a
    500k-doc corpus (40.3 → 0.79 s) for identical values. The token
    arrays are provably equal: maximal alnum runs are the same set
    either way, and lowering a pure-ASCII-alnum token equals the
    substring of the lowered string. Pinned against the old form
    (`tests/reference_forms.py`)."""
    tokens = F.transform(
        F.regexp_extract_all(text, F.lit("[A-Za-z0-9]+"), F.lit(0)),
        lambda t: F.lower(t),
    )
    return F.sha2(F.concat_ws(" ", F.sort_array(F.array_distinct(tokens))), 256)


#: PII masking patterns — deliberately lookahead-free so the SAME pattern
#: runs under Java regex (engine) and RE2 (oracle). Order matters: URLs
#: before emails (a URL can contain '@'), emails before phones.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
]


def redact_pii(text: Column) -> Column:
    """Mask URLs, emails, and phone-number-shaped substrings — the
    standard pre-training scrub, as chained regexp_replace (one projection,
    codegen, no UDF)."""
    out = text
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out
