"""Gopher-style repetition / formatting quality signals (Rae et al. 2021,
"Scaling Language Models: Methods, Analysis & Insights from Training
Gopher", table A1 — public filter recipe reused by MassiveText, RefinedWeb,
Dolma, and most open pre-training pipelines).

Per document:

- ``dup_line_frac`` / ``dup_line_char_frac`` — fraction of non-empty lines
  (and of characters) that are repeats of an earlier identical line.
- ``top_{n}gram_char_frac`` (n = 2, 3, 4) — characters covered by the most
  frequent word n-gram: ``count × len(gram) / n_chars``, 0 when no n-gram
  repeats (count ≤ 1 is not repetition — same convention as the public
  DataTrove/Dolma implementations of the Gopher rule, without which every
  short unique document flags on its longest n-gram). The n-gram string
  is the space-joined lowercase token run, so its length counts the n-1
  joining spaces — documented definition, identical in the oracle.
- ``dup_{n}gram_char_frac`` (n = 5, 10) — characters covered by n-grams
  occurring more than once, counted as ``(count − 1) × len(gram)`` summed
  over duplicated grams (occurrence mass beyond the first; overlapping
  occurrences are NOT interval-merged — the exact covered-position variant
  is `dedup.span_dedup`, which unions window positions).
- ``symbol_word_ratio`` — '#' / '…' / '...' hits per whitespace token.
- ``bullet_line_frac`` / ``ellipsis_line_frac`` — lines starting with a
  bullet mark, lines ending in an ellipsis.
- ``char_entropy`` (late r8) — Shannon entropy (nats) of the raw
  character distribution: near-0 for single-char runs and repeated
  fill, ~ln|charset| for diverse text — the standard cheap gibberish /
  filler signal beside the n-gram masses. Not part of the Gopher pass
  flag (no published threshold); exposed for caller-side cuts.
- ``repetition_pass`` — all Gopher thresholds hold.

Scale shape (the reason this is NOT per-doc quadratic HOFs): duplicate
counting needs per-(doc, gram) counts, and a lambda of the form
``transform(distinct, g -> size(filter(grams, = g)))`` is O(len²) per
document — a single pathological 1M-token doc would stall an executor.
Instead every countable unit (line rows + one row per word n-gram per n)
is exploded into ONE relation keyed by (doc_id, kind, gram): one
map-side-combined groupBy produces the counts, a second groupBy(doc_id)
folds them to per-doc stats, and a left join back to the scan-side
projection (line/symbol ratios — genuinely O(len) per doc) finishes the
frame. Two shuffles total, both keyed by doc_id(+gram) — uniform at any
corpus size, no token-level window, no pair formation.

Extraction is native: each n-gram size is one codegen'd
`regexp_extract_all` pass over the normalized text
(`extract_word_ngrams`), and units are tagged by exploding an array of
(kind, grams) structs — no per-element lambda or index array.

The character-entropy units are their own branch: an (id, char) count
folded to id and left-joined on id. A caller that does not read
``char_entropy`` (``curate_corpus`` reads only ``repetition_pass``) gets
a plan without it — Catalyst drops a left join whose right side is
unique on the key and contributes no column — so it never explodes a
row per character. When it is read, the branch adds its own two
doc_id-keyed shuffles.

The reference engine has no repetition filters (text-only EL pipeline);
this extends the LLM-pipeline tier alongside `textstats` (quality
ratios) and `dedup.span_dedup` (exact covered positions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from manifold_spark.operators.lm import extract_char_ngrams, normalize_text
from manifold_spark.operators.textstats import ws_tokens
from manifold_spark.plans.parallelism import ensure_parallelism

#: n-gram sizes for the "top n-gram mass" metrics and their Gopher
#: thresholds (max allowed fraction).
TOP_NGRAM_THRESHOLDS: dict[int, float] = {2: 0.20, 3: 0.18, 4: 0.16}
#: n-gram sizes for the "duplicate n-gram mass" metrics and thresholds.
DUP_NGRAM_THRESHOLDS: dict[int, float] = {5: 0.15, 10: 0.10}
#: Gopher line-level thresholds.
DUP_LINE_FRAC_MAX = 0.30
DUP_LINE_CHAR_FRAC_MAX = 0.20

#: Symbol marks counted against the word count ('#', ASCII '...', '…').
#: Lookahead-free so the same pattern runs under Java regex and RE2.
SYMBOL_PATTERN = r"#|\.\.\.|…"
#: A line "is a bullet" when its trimmed form starts with one of these.
BULLET_PATTERN = r"^[-*•]"
#: A line "ends in ellipsis" when its trimmed form matches this.
ELLIPSIS_PATTERN = r"(\.\.\.|…)$"

#: Encoding for the single-pass "most frequent gram" reduction:
#: max(cnt · SCALE + len) picks highest count, ties broken by longest
#: gram — one bigint max instead of a two-level aggregate or window.
#: Gram length is always < SCALE (a gram is a substring of its document).
_TOP_CODE_SCALE = 1_000_000_000

#: Quantization scale for the per-count ln() terms of the character
#: entropy (H = ln L − Σ nᶜ·ln nᶜ / L): each distinct count's log is
#: floor-quantized ONCE so the per-doc reduction is an exact integer sum
#: (the lm.py float discipline — order-independent, oracle-exact).
_ENT_SCALE = 1_000_000


def _nonempty_lines(text: Column) -> Column:
    """Non-empty lines of the raw text (duplicate-line identity is
    case- and whitespace-sensitive apart from the emptiness trim)."""
    return F.filter(F.split(text, "\n"), lambda l: F.length(F.trim(l)) > 0)


def extract_word_ngrams(norm: Column, n: int) -> Column:
    """Space-joined word n-grams of ``norm`` (`lm.normalize_text` output:
    single-space-separated lowercase tokens, no edge spaces) in order,
    as one `regexp_extract_all` pass; fewer than n tokens → empty array.

    A zero-width lookahead at each token start (no non-space before it)
    captures that token and the n-1 after it. The regex engine steps one
    UTF-16 unit after an empty match, and the lookbehind alone does not
    reject the position inside a surrogate pair, so the first character
    also excludes low surrogates (see `lm.extract_char_ngrams`)."""
    pattern = r"(?<![^ ])(?=([^ \x{DC00}-\x{DFFF}][^ ]*(?: [^ ]+){%d}))" % (n - 1)
    return F.regexp_extract_all(norm, F.lit(pattern), 1)


def _units(docs: DataFrame, text: Column, id_col: str) -> DataFrame:
    """One relation of every countable unit, (id, kind, gram): a row per
    non-empty line (kind 'line') and per word n-gram of each size
    (kind 'g{n}'), tagged by exploding (kind, units) structs. The n-grams
    come from the normalized text, which equals
    array_join(ws_tokens(lower(text)), ' ') (pinned with the unit rows
    in tests/test_text_extract.py)."""
    kinds = [F.struct(F.lit("line").alias("kind"), F.col("__lines").alias("units"))]
    for n in sorted(set(TOP_NGRAM_THRESHOLDS) | set(DUP_NGRAM_THRESHOLDS)):
        kinds.append(
            F.struct(
                F.lit(f"g{n}").alias("kind"),
                extract_word_ngrams(F.col("__norm"), n).alias("units"),
            )
        )
    return (
        docs.select(
            F.col(id_col),
            normalize_text(text).alias("__norm"),
            _nonempty_lines(text).alias("__lines"),
        )
        .select(F.col(id_col), F.explode(F.array(*kinds)).alias("k"))
        .select(id_col, F.col("k.kind").alias("kind"), F.explode("k.units").alias("gram"))
    )


def repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Gopher repetition/formatting signals (see module doc).

    Returns one row per input document:
    (id, n_lines, dup_line_frac, dup_line_char_frac,
    top_{2,3,4}gram_char_frac, dup_{5,10}gram_char_frac,
    symbol_word_ratio, bullet_line_frac, ellipsis_line_frac,
    char_entropy, repetition_pass). All fractions are exact-integer
    ratios (the only doubles are final divisions, and the entropy's log
    terms are integer-quantized — oracle-exact).
    """
    docs = ensure_parallelism(docs)  # single-row-group parquet can't split
    # NULL text reads as degenerate-empty (0 lines, 0 fractions), not a
    # row of NULL metrics.
    text = F.coalesce(F.col(text_col), F.lit(""))
    top_ns = sorted(TOP_NGRAM_THRESHOLDS)
    dup_ns = sorted(DUP_NGRAM_THRESHOLDS)

    counts = _units(docs, text, id_col).groupBy(id_col, "kind", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    kind_stats = counts.groupBy(id_col, "kind").agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum((F.col("cnt") - 1) * F.length("gram")).alias("dup_mass"),
        F.max(F.col("cnt") * F.lit(_TOP_CODE_SCALE) + F.length("gram")).alias(
            "top_code"
        ),
    )

    # Character entropy: its own (id, char) → id branch, left-joined on
    # id below, so a plan that does not read char_entropy drops it.
    char_stats = (
        docs.select(F.col(id_col), F.explode(extract_char_ngrams(text, 1)).alias("ch"))
        .groupBy(id_col, "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("c1_total"),
            # Σ cnt·floor(ln(cnt)·S) — the entropy numerator's variable
            # part (ln(1)=0 exactly, so singletons add 0)
            F.sum(
                F.col("cnt")
                * F.floor(
                    F.log(F.col("cnt").cast("double")) * F.lit(float(_ENT_SCALE))
                ).cast("long")
            ).alias("c1_ent_sum_q"),
        )
    )

    def _k(kind: str, metric: str) -> Column:
        return F.max(F.when(F.col("kind") == kind, F.col(metric)))

    agg_cols = [
        _k("line", "total").alias("line_total"),
        _k("line", "n_distinct").alias("line_distinct"),
        _k("line", "dup_mass").alias("line_dup_mass"),
    ]
    for n in top_ns:
        agg_cols.append(_k(f"g{n}", "top_code").alias(f"g{n}_top_code"))
    for n in dup_ns:
        agg_cols.append(_k(f"g{n}", "dup_mass").alias(f"g{n}_dup_mass"))
    per_doc = kind_stats.groupBy(id_col).agg(*agg_cols)

    # Scan-side O(len) per-doc metrics (no shuffle on this branch). The
    # lines are their own projection, split once for the three metrics
    # that read them (plan pinned in tests/test_text_extract.py).
    lines = F.col("__lines")
    base = docs.select(
        id_col,
        F.length(text).cast("int").alias("_n_chars"),
        F.size(ws_tokens(text)).alias("_n_tokens"),
        F.regexp_count(text, F.lit(SYMBOL_PATTERN)).alias("_n_symbols"),
        _nonempty_lines(text).alias("__lines"),
    ).select(
        id_col,
        "_n_chars",
        "_n_tokens",
        "_n_symbols",
        F.size(lines).cast("int").alias("n_lines"),
        F.size(
            F.filter(lines, lambda l: F.trim(l).rlike(BULLET_PATTERN))
        ).alias("_n_bullet"),
        F.size(
            F.filter(lines, lambda l: F.trim(l).rlike(ELLIPSIS_PATTERN))
        ).alias("_n_ellipsis"),
    )

    j = base.join(per_doc, id_col, "left").join(char_stats, id_col, "left")
    denom_chars = F.greatest(F.col("_n_chars"), F.lit(1))
    line_total = F.coalesce(F.col("line_total"), F.lit(0))

    def _top_frac(n: int) -> Column:
        code = F.coalesce(F.col(f"g{n}_top_code"), F.lit(0))
        ln = code % F.lit(_TOP_CODE_SCALE)
        # exact integer split: (code - len) is a multiple of SCALE whose
        # double quotient is the integral cnt (≤ 2^53, correctly rounded)
        cnt = ((code - ln) / F.lit(_TOP_CODE_SCALE)).cast("long")
        # count ≤ 1 is not repetition (see module doc)
        return F.when(cnt >= 2, cnt * ln).otherwise(F.lit(0)) / denom_chars

    def _dup_frac(col: str) -> Column:
        return F.coalesce(F.col(col), F.lit(0)) / denom_chars

    out_cols = [
        F.col(id_col),
        F.col("n_lines"),
        F.when(
            line_total > 0,
            (line_total - F.coalesce(F.col("line_distinct"), F.lit(0))) / line_total,
        )
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
        _dup_frac("line_dup_mass").alias("dup_line_char_frac"),
    ]
    for n in top_ns:
        out_cols.append(_top_frac(n).alias(f"top_{n}gram_char_frac"))
    for n in dup_ns:
        out_cols.append(_dup_frac(f"g{n}_dup_mass").alias(f"dup_{n}gram_char_frac"))
    # Character entropy H = ln L − Σ nᶜ·ln nᶜ / L over raw characters:
    # exact-integer numerator (quantized logs), one final double division.
    # 0.0 for empty docs; low H flags single-char runs / repeated fill.
    ent_L = F.coalesce(F.col("c1_total"), F.lit(0))
    ent_lnq_L = F.floor(F.log(ent_L.cast("double")) * F.lit(float(_ENT_SCALE))).cast(
        "long"
    )
    char_entropy = F.when(
        ent_L > 0,
        (ent_L * ent_lnq_L - F.coalesce(F.col("c1_ent_sum_q"), F.lit(0))).cast(
            "double"
        )
        / (ent_L * F.lit(_ENT_SCALE)).cast("double"),
    ).otherwise(F.lit(0.0))
    out_cols += [
        (F.col("_n_symbols") / F.greatest(F.col("_n_tokens"), F.lit(1))).alias(
            "symbol_word_ratio"
        ),
        (F.col("_n_bullet") / F.greatest(F.col("n_lines"), F.lit(1))).alias(
            "bullet_line_frac"
        ),
        (F.col("_n_ellipsis") / F.greatest(F.col("n_lines"), F.lit(1))).alias(
            "ellipsis_line_frac"
        ),
        char_entropy.alias("char_entropy"),
    ]
    result = j.select(*out_cols)

    pass_expr = (
        (F.col("dup_line_frac") <= F.lit(DUP_LINE_FRAC_MAX))
        & (F.col("dup_line_char_frac") <= F.lit(DUP_LINE_CHAR_FRAC_MAX))
    )
    for n, thr in TOP_NGRAM_THRESHOLDS.items():
        pass_expr = pass_expr & (F.col(f"top_{n}gram_char_frac") <= F.lit(thr))
    for n, thr in DUP_NGRAM_THRESHOLDS.items():
        pass_expr = pass_expr & (F.col(f"dup_{n}gram_char_frac") <= F.lit(thr))
    return result.withColumn("repetition_pass", pass_expr)
