"""Native n-gram extraction for the text-quality operators (default tier).

`lm.extract_char_ngrams` and `repetition.extract_word_ngrams` are single
`regexp_extract_all` passes with a zero-width lookahead. These pins hold
them value-identical to the positional reference forms in
`textquality_reference` on a Unicode torture set, and pin the plan shape
that keeps character units out of a pass-flag-only repetition plan.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

import textquality_reference as ref
from manifold_spark.operators import lm
from manifold_spark.operators.repetition import (
    DUP_NGRAM_THRESHOLDS,
    TOP_NGRAM_THRESHOLDS,
    _ENT_SCALE,
    _nonempty_lines,
    _units,
    extract_word_ngrams,
    repetition_signals,
)
from manifold_spark.operators.textstats import ws_tokens

#: Supplementary-plane letters, ZWJ emoji sequences and skin-tone
#: modifiers (surrogate pairs), NEL, CRLF, VT/FF, Turkish İ (lowercases
#: to two code points), final sigma, 1- and 2-character docs, empty,
#: whitespace-only and NULL.
TORTURE = [
    "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 letters 𝒜𝒷𝒸 𝒜𝒷𝒸 𝒜𝒷𝒸 letters",
    "family 👨‍👩‍👧‍👦 and 👍🏽 thumbs 😀😀😀 family 👨‍👩‍👧‍👦 and 👍🏽",
    "😀",
    "😀a",
    "a😀",
    "😀😀 😀😀",
    "nel\u0085line crlf\r\nline vt\x0bff\x0c end\nnel\u0085line crlf\r\nline",
    "\u0085",
    "\u0085 \u0085",
    "İstanbul İİ ΣΊΣΥΦΟΣ ὈΔΥΣΣΕΎΣ σς",
    "héllo wörld 日本語テスト",
    "a",
    "ab",
    "a b",
    "",
    "   ",
    "\t\n \r\n",
    None,
    " lead  and\ttrail \n",
    "one two three four five six seven eight nine ten eleven "
    "one two three four five six seven eight nine ten eleven",
]

WORD_NS = sorted(set(TOP_NGRAM_THRESHOLDS) | set(DUP_NGRAM_THRESHOLDS))


@pytest.fixture(scope="module")
def torture(spark):
    return spark.createDataFrame(
        list(enumerate(TORTURE)), "doc_id long, text string"
    )


def _same(native, reference):
    # The native forms return NULL for NULL input where the reference
    # forms return []; both explode to no rows.
    return (native if native is not None else []) == reference


def test_char_extractor_matches_reference(torture):
    norm = lm.normalize_text(F.col("text"))
    raw = F.coalesce(F.col("text"), F.lit(""))
    cols = [F.col("text")]
    for n in (1, 2, 3, 5):
        cols += [
            lm.extract_char_ngrams(norm, n).alias(f"new{n}"),
            ref.char_ngrams(norm, n).alias(f"ref{n}"),
        ]
    # repetition's entropy reads the characters of the raw text
    cols += [
        lm.extract_char_ngrams(raw, 1).alias("raw_new"),
        ref.char_array(raw).alias("raw_ref"),
    ]
    for r in torture.select(*cols).collect():
        for n in (1, 2, 3, 5):
            assert _same(r[f"new{n}"], r[f"ref{n}"]), (n, r["text"])
        assert r["raw_new"] == r["raw_ref"], r["text"]
        if r["text"] is not None:
            # one element per code point, as Python counts them
            assert len(r["raw_new"]) == len(r["text"])


def test_word_extractor_matches_reference(torture):
    toks = ws_tokens(F.lower(F.col("text")))
    norm = lm.normalize_text(F.col("text"))
    cols = [F.col("text")]
    for n in WORD_NS:
        cols += [
            extract_word_ngrams(norm, n).alias(f"new{n}"),
            ref.word_ngrams(toks, n).alias(f"ref{n}"),
        ]
    rows = torture.select(*cols).collect()
    for r in rows:
        for n in WORD_NS:
            assert _same(r[f"new{n}"], r[f"ref{n}"]), (n, r["text"])
    # the torture set does reach 10-grams
    assert any(r["ref10"] for r in rows)


def test_normalize_text_equals_joined_ws_tokens(torture):
    rows = torture.select(
        F.col("text"),
        lm.normalize_text(F.col("text")).alias("norm"),
        F.array_join(ws_tokens(F.lower(F.col("text"))), " ").alias("joined"),
    ).collect()
    for r in rows:
        if r["text"] is None:
            assert r["norm"] is None
        else:
            assert r["norm"] == r["joined"], r["text"]


def test_units_match_tagged_reference(torture):
    """The (id, kind, gram) unit relation equals the old form: per-kind
    arrays tagged by a struct lambda, concatenated, exploded once."""
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = ws_tokens(F.lower(text))
    tagged = [F.transform(_nonempty_lines(text), ref.tag("line"))] + [
        F.transform(ref.word_ngrams(toks, n), ref.tag(f"g{n}")) for n in WORD_NS
    ]
    old = torture.select(
        "doc_id", F.explode(F.concat(*tagged)).alias("u")
    ).select("doc_id", "u.kind", "u.gram")
    new = _units(torture, text, "doc_id")
    assert Counter(map(tuple, new.collect())) == Counter(map(tuple, old.collect()))


def test_char_entropy_on_torture_set(torture):
    """char_entropy (now its own (id, char) → id branch) matches the
    pure-Python count over code points with the engine's quantization."""
    got = {
        r["doc_id"]: r["char_entropy"]
        for r in repetition_signals(torture).select("doc_id", "char_entropy").collect()
    }
    for doc_id, text in enumerate(TORTURE):
        cc = Counter(text or "")
        L = sum(cc.values())
        want = 0.0
        if L:
            lnq = lambda n: math.floor(math.log(n) * _ENT_SCALE)  # noqa: E731
            num = L * lnq(L) - sum(c * lnq(c) for c in cc.values())
            want = num / (L * _ENT_SCALE)
        assert got[doc_id] == pytest.approx(want, abs=1e-9), text


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pass_only_plan_has_no_char_explode(torture):
    """A caller that reads only `repetition_pass` (curate_corpus) gets a
    plan without the per-character explode: the entropy branch is a left
    join on a unique key that Catalyst drops when no column of it is
    read. The full frame still carries it."""
    rep = repetition_signals(torture)
    pass_only = _optimized(rep.filter("repetition_pass").select("doc_id"))
    assert lm.CHAR_PATTERN not in pass_only
    assert "explode" in pass_only  # the line / word n-gram units remain
    assert lm.CHAR_PATTERN in _optimized(rep)
    assert lm.CHAR_PATTERN in _optimized(rep.select("doc_id", "char_entropy"))


def test_repetition_lines_split_once_per_branch(torture):
    """The non-empty lines are split once per branch: the full frame's
    plan holds one split in the unit relation and one in the scan-side
    projection (its three line metrics share it), and the pass-flag plan
    that `curate_corpus` reads holds only the unit relation's. The rows
    equal the pure-Python reference."""
    rep = repetition_signals(torture)
    lines = "filter(split(coalesce(text"
    assert _optimized(rep).count(lines) == 2
    assert _optimized(rep.filter("repetition_pass").select("doc_id")).count(lines) == 1
    got = {r["doc_id"]: r.asDict() for r in rep.collect()}
    assert got == ref.repetition_rows(TORTURE)
