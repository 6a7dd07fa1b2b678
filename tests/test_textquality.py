"""Crafted-corpus semantics for the round-8 text-quality operators:
Gopher repetition signals (line metrics need multi-line docs the parquet
corpus doesn't have) and char-trigram LM scoring (held-out docs with
unseen trigrams exercise the smoothing fallback the self-scored gate
never hits)."""


from __future__ import annotations

import pytest

# r15 slow tier (VERDICT r14 #2): text-quality model training paths —
# excluded from the default (driver-verify) run by pytest.ini's
# `-m "not slow"`; run with `-m slow` (round-close evidence in
# OPTIMIZATION_r15.md).
pytestmark = pytest.mark.slow

import math

import pytest
from pyspark.sql import functions as F

import textquality_reference as ref
from manifold_spark.operators import lm
from manifold_spark.operators.repetition import repetition_signals


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _rows(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


# ---------------------------------------------------------------------------
# repetition_signals
# ---------------------------------------------------------------------------


def test_duplicate_lines(spark):
    # 4 non-empty lines, "same line" 3×: 2 duplicate repeats of 9 chars each
    text = "same line\nsame line\nother\n\nsame line"
    r = _rows(repetition_signals(_docs(spark, [text])))[0]
    assert r["n_lines"] == 4
    assert r["dup_line_frac"] == pytest.approx(2 / 4)
    assert r["dup_line_char_frac"] == pytest.approx(2 * 9 / len(text))


def test_no_duplicate_lines(spark):
    r = _rows(repetition_signals(_docs(spark, ["alpha\nbeta\ngamma"])))[0]
    assert r["n_lines"] == 3
    assert r["dup_line_frac"] == 0.0
    assert r["dup_line_char_frac"] == 0.0


def test_top_ngram_mass(spark):
    # "a b" appears 3× among the 5 bigrams of "a b a b a b"; gram len 3
    text = "a b a b a b"
    r = _rows(repetition_signals(_docs(spark, [text])))[0]
    assert r["top_2gram_char_frac"] == pytest.approx(3 * 3 / len(text))
    # all-unique text: no bigram repeats → 0 (count ≤ 1 is not repetition)
    uniq = "one two three four"
    r2 = _rows(repetition_signals(_docs(spark, [uniq])))[0]
    assert r2["top_2gram_char_frac"] == 0.0


def test_dup_ngram_mass_counts_repeats_beyond_first(spark):
    # 10 tokens "w0..w4 w0..w4": the 5-gram "w0 w1 w2 w3 w4" occurs twice
    # (positions 1 and 6) → one duplicate occurrence of len 14
    text = "w0 w1 w2 w3 w4 w0 w1 w2 w3 w4"
    r = _rows(repetition_signals(_docs(spark, [text])))[0]
    assert r["dup_5gram_char_frac"] == pytest.approx(len("w0 w1 w2 w3 w4") / len(text))
    # no 10-gram repeats (only one 10-gram exists)
    assert r["dup_10gram_char_frac"] == 0.0


def test_bullet_and_ellipsis_lines(spark):
    text = "- first bullet\n* second\nplain line\nteaser ends here...\nmore…"
    r = _rows(repetition_signals(_docs(spark, [text])))[0]
    assert r["n_lines"] == 5
    assert r["bullet_line_frac"] == pytest.approx(2 / 5)
    assert r["ellipsis_line_frac"] == pytest.approx(2 / 5)


def test_symbol_word_ratio(spark):
    text = "# header with tags ## and trailing ..."
    r = _rows(repetition_signals(_docs(spark, [text])))[0]
    # '#', '#'+'#' (from ##), '...' → 4 hits over 8 ws tokens
    assert r["symbol_word_ratio"] == pytest.approx(4 / 8)


def test_degenerate_docs(spark):
    r = _rows(repetition_signals(_docs(spark, ["", "word", "   "])))
    for doc_id in (0, 2):
        assert r[doc_id]["n_lines"] == 0
        assert r[doc_id]["dup_line_frac"] == 0.0
        assert r[doc_id]["top_2gram_char_frac"] == 0.0
        assert r[doc_id]["repetition_pass"] is True
    assert r[1]["n_lines"] == 1
    assert r[1]["top_2gram_char_frac"] == 0.0  # fewer tokens than n


def test_repetition_pass_flags_spam(spark):
    spam = "buy now " * 50
    clean = "a perfectly ordinary sentence with varied words and no repeats"
    r = _rows(repetition_signals(_docs(spark, [spam, clean])))
    assert r[0]["repetition_pass"] is False
    assert r[1]["repetition_pass"] is True


def test_repetition_layout_independent(spark):
    texts = [f"tok{i} " * (i % 7 + 1) + "shared tail phrase" for i in range(40)]
    docs = _docs(spark, texts)
    a = sorted(map(repr, repetition_signals(docs).collect()))
    b = sorted(map(repr, repetition_signals(docs.repartition(13)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# char-trigram LM scoring
# ---------------------------------------------------------------------------


def test_lm_self_score_shapes(spark):
    docs = _docs(spark, ["the cat sat on the mat", "the dog sat", "ab", ""])
    out = _rows(lm.score_docs(docs))
    norm0 = "the cat sat on the mat"
    assert out[0]["n_trigrams"] == len(norm0) - 2
    assert out[0]["avg_logprob"] < 0
    # shorter-than-trigram docs: zero trigrams, NULL score (0.0 would be
    # the best possible score — real scores are negative — and would rank
    # degenerate docs into the 'head' tertile; ADVICE r8)
    for doc_id in (2, 3):
        assert out[doc_id]["n_trigrams"] == 0
        assert out[doc_id]["avg_logprob"] is None


def test_lm_trigram_separation_saturates(spark, sf_dir):
    """The quality-signal eval behind the r9 decision NOT to build the
    interpolated 4-gram LM (VERDICT r8 #7): on both seeded adversary
    families — md5-stream gibberish AND char-shuffled real docs (unigram
    distribution preserved) — the shipped trigram already separates
    perfectly (AUC 1.0), so a 3×-larger 4-gram table (measured 13,640 vs
    4,580 model rows on this corpus) buys nothing measurable. The
    experimental interpolated 4-gram scored the same 1.0 on both
    (recorded in NOTES); rebuild the experiment if this pin ever drops
    below 1.0 on a future corpus."""
    import bisect
    import hashlib
    import string

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
        .collect()
    )

    def md5_gib(i, n=300):
        out, seed = [], f"gib{i}".encode()
        while len(out) < n:
            h = hashlib.md5(seed + bytes([len(out) % 251])).hexdigest()
            for c in h:
                v = int(c, 16)
                out.append(string.ascii_lowercase[v] if v < 16 else " ")
            seed = h.encode()
        return "".join(out[:n])

    def char_shuffle(text, key):
        return "".join(
            x for _, x in sorted(
                (hashlib.md5(f"{key}:{i}".encode()).hexdigest(), x)
                for i, x in enumerate(text or "")
            )
        )

    rows = [(r["doc_id"], r["text"], "clean") for r in docs]
    rows += [(10_000 + i, md5_gib(i), "gib") for i in range(40)]
    rows += [
        (20_000 + r["doc_id"], char_shuffle(r["text"], r["doc_id"]), "shuf")
        for r in docs[:40]
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, label string")
    scored = (
        lm.score_docs(corpus)
        .join(corpus.select("doc_id", "label"), "doc_id")
        .filter(F.col("n_trigrams") > 0)
        .collect()
    )
    from manifold_spark.operators.dedup import release_shingle_caches

    release_shingle_caches()
    clean = sorted(r["avg_logprob"] for r in scored if r["label"] == "clean")
    for adversary in ("gib", "shuf"):
        neg = sorted(r["avg_logprob"] for r in scored if r["label"] == adversary)
        auc = sum(bisect.bisect_left(neg, c) for c in clean) / (
            len(clean) * len(neg)
        )
        assert auc == 1.0, (adversary, auc)


def test_lm_in_distribution_beats_gibberish(spark):
    corpus = _docs(
        spark,
        ["the quick brown fox jumps over the lazy dog"] * 20
        + ["pack my box with five dozen liquor jugs"] * 20,
    )
    model = lm.train_char_lm(corpus)
    held = _docs(spark, ["the quick brown fox", "zqxj vwk qqqz jjjx"])
    out = _rows(lm.score_docs(held, model=model))
    assert out[0]["avg_logprob"] > out[1]["avg_logprob"]


def test_lm_unseen_trigram_fallback(spark):
    corpus = _docs(spark, ["aaab aaab aaab"])
    model = lm.train_char_lm(corpus)
    # 'zzz' never seen, prefix 'zz' never seen → every term prices at
    # ln(k / (k·V)) = -ln(V); V = distinct chars of "aaab aaab aaab" = 3
    out = _rows(lm.score_docs(_docs(spark, ["zzzzz"]), model=model))
    v = 3
    expected_term = math.floor(math.log(1.0 / v) * lm.TERM_SCALE)
    n_tri = 3  # "zzzzz" → 3 trigrams
    assert out[0]["n_trigrams"] == n_tri
    assert out[0]["avg_logprob"] == pytest.approx(
        expected_term * n_tri / (n_tri * lm.TERM_SCALE)
    )


def test_lm_seen_trigram_exact_value(spark):
    # corpus "abab": trigrams aba, bab (1 each); prefixes ab→1, ba→1;
    # V = {a, b} = 2. P(aba) = (1+1)/(1+2) = 2/3.
    corpus = _docs(spark, ["abab"])
    model = lm.train_char_lm(corpus)
    out = _rows(lm.score_docs(_docs(spark, ["aba"]), model=model))
    expected = math.floor(math.log(2 / 3) * lm.TERM_SCALE) / lm.TERM_SCALE
    assert out[0]["avg_logprob"] == pytest.approx(expected)


def test_lm_normalization_collapses_whitespace(spark):
    a = _rows(lm.score_docs(_docs(spark, ["the   cat\t\tsat"])))[0]
    b = _rows(lm.score_docs(_docs(spark, ["the cat sat"])))[0]
    assert a["n_trigrams"] == b["n_trigrams"]
    assert a["avg_logprob"] == b["avg_logprob"]


# ---------------------------------------------------------------------------
# BM25 sparse retrieval
# ---------------------------------------------------------------------------


def _bm25_reference(corpus, queries, k=10):
    """Independent pure-Python BM25 (same constants/quantization) for
    cross-implementation pinning."""
    from manifold_spark.operators.bm25 import B, K1, SCORE_SCALE
    import re

    def toks(t):
        return [w for w in re.sub(r"[^\w]+", " ", t.lower()).split() if w]

    docs = {i: toks(t) for i, t in corpus}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    out = {}
    for qid, qt in queries:
        scores = {}
        for term in sorted(set(toks(qt))):
            df = sum(1 for t in docs.values() if term in t)
            if df == 0:
                continue
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
            for d, t in docs.items():
                tf = t.count(term)
                if tf == 0:
                    continue
                tfn = (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * (len(t) / avgdl)))
                scores[d] = scores.get(d, 0) + math.floor(idf * tfn * SCORE_SCALE)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[qid] = [(d, r + 1, s / SCORE_SCALE) for r, (d, s) in enumerate(ranked)]
    return out


def test_bm25_matches_pure_python(spark):
    from manifold_spark.operators.bm25 import bm25_topk

    corpus = [
        (1, "apple banana"),
        (2, "apple apple banana banana cherry"),
        (3, "cherry pie and more cherry"),
        (4, "totally unrelated words here"),
        (5, "apple cherry banana apple"),
    ]
    queries = [(0, "apple"), (1, "cherry banana"), (2, "nonexistentterm"), (3, "apple apple")]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    qdf = spark.createDataFrame(queries, "query_id int, query string")
    got = {}
    for r in bm25_topk(docs, qdf, k=3).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["rank"], r["score"])
        )
    expected = {q: v[:3] for q, v in _bm25_reference(corpus, queries, k=3).items() if v}
    assert got == expected
    # duplicate query terms count once: q0 ("apple") == q3 ("apple apple")
    assert got[0] == got[3]
    # no-hit query returns no rows
    assert 2 not in got
    from manifold_spark.operators.dedup import release_shingle_caches

    release_shingle_caches()


def test_bm25_rare_term_outranks_common(spark):
    """idf must favor the rare term: a doc matching the rare query term
    beats docs matching only the common one."""
    from manifold_spark.operators.bm25 import bm25_topk

    corpus = [(i, "common filler words") for i in range(1, 9)]
    corpus += [(9, "rareterm common"), (10, "common words")]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    qdf = spark.createDataFrame([(0, "rareterm common")], "query_id int, query string")
    top = bm25_topk(docs, qdf, k=1).collect()
    assert top[0]["doc_id"] == 9
    from manifold_spark.operators.dedup import release_shingle_caches

    release_shingle_caches()


def test_vocab_topk_engine_function(spark):
    """The retired text_vocab_topk KEY's engine function (r8 fold into
    text_bm25): df counts over distinct per-doc tokens, deterministic
    (df desc, token) rank, k-cut."""
    from manifold_spark.operators import textstats_vocab_topk

    corpus = [
        (1, "alpha beta beta gamma"),  # beta counts once for df
        (2, "alpha beta"),
        (3, "alpha delta"),
    ]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    rows = [(r["token"], r["df"], r["rank"]) for r in
            textstats_vocab_topk(docs, k=3).collect()]
    assert rows == [("alpha", 3, 1), ("beta", 2, 2), ("delta", 1, 3)]


def test_repetition_null_text_is_degenerate_empty(spark):
    docs = spark.createDataFrame([(0, None), (1, "a b a b")], "doc_id long, text string")
    r = _rows(repetition_signals(docs))
    assert r[0]["n_lines"] == 0
    assert r[0]["symbol_word_ratio"] == 0.0
    assert r[0]["bullet_line_frac"] == 0.0
    assert r[0]["repetition_pass"] is True
    assert r[1]["top_2gram_char_frac"] > 0


def test_stratified_sample_exact_quotas(spark):
    from manifold_spark.operators.sampling import stratified_sample

    rows = [(i, f"src{i % 3}") for i in range(100)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = stratified_sample(df, "source", {"src0": 5, "src1": 7, "tiny": 10},
                            "doc_id", default_quota=2)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    # exact quotas; missing group gets default; under-quota group whole
    assert counts == {"src0": 5, "src1": 7, "src2": 2, "tiny": 1}
    # layout-independent: same surviving ids after repartition
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in stratified_sample(
            df.repartition(17), "source", {"src0": 5, "src1": 7, "tiny": 10},
            "doc_id", default_quota=2,
        ).collect()
    )
    assert a == b


def test_repetition_matches_pure_python(spark):
    """Cross-implementation pin on a seeded random corpus whose tiny
    vocabulary forces heavy line/gram duplication, with newlines,
    bullets, ellipses, symbols, empty and NULL docs."""
    import random

    rng = random.Random(8)
    vocab = ["spam", "ham", "egg", "buy", "now", "free", "#deal", "wow..."]
    texts = [None, "", "   ", "one-token"]
    for _ in range(40):
        n_lines = rng.randint(1, 6)
        doc_lines = []
        for _ in range(n_lines):
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
            line = " ".join(toks)
            if rng.random() < 0.3:
                line = rng.choice(["- ", "* ", "• "]) + line
            if rng.random() < 0.3:
                line += rng.choice(["...", "…"])
            doc_lines.append(line)
        if rng.random() < 0.4 and doc_lines:
            doc_lines.append(rng.choice(doc_lines))  # force dup lines
        texts.append("\n".join(doc_lines))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict() for r in repetition_signals(docs).collect()
    }
    assert got == ref.repetition_rows(texts)


# ---------------------------------------------------------------------------
# bm25 conjunctive (AND) mode
# ---------------------------------------------------------------------------


def test_bm25_and_mode_requires_all_terms(spark):
    from manifold_spark.operators.bm25 import bm25_topk

    corpus = [
        (1, "apple banana cherry"),
        (2, "apple apple apple"),
        (3, "banana banana"),
        (4, "apple banana"),
        (5, "unrelated words"),
    ]
    docs = spark.createDataFrame(corpus, ["doc_id", "text"])
    qdf = spark.createDataFrame(
        [(0, "apple banana"), (1, "apple")], "query_id int, query string"
    )
    disj = {(r["query_id"], r["doc_id"]): r for r in bm25_topk(docs, qdf, k=10).collect()}
    conj = {(r["query_id"], r["doc_id"]): r for r in bm25_topk(docs, qdf, k=10, mode="and").collect()}
    # q0: only docs 1 and 4 contain BOTH terms
    assert {d for (q, d) in conj if q == 0} == {1, 4}
    # q1 single-term: and == or hit set
    assert {d for (q, d) in conj if q == 1} == {d for (q, d) in disj if q == 1}
    # conjunctive is a subset of disjunctive with identical scores
    for key, r in conj.items():
        assert key in disj
        assert r["score"] == disj[key]["score"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_topk(docs, qdf, mode="xor")
    from manifold_spark.operators.dedup import release_shingle_caches

    release_shingle_caches()


# ---------------------------------------------------------------------------
# line_dedup (CCNet shard dedup)
# ---------------------------------------------------------------------------


def _line_rows(spark, docs, **kw):
    from manifold_spark.operators.dedup import line_dedup, release_shingle_caches

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in line_dedup(df, **kw).collect()}
    release_shingle_caches()
    return out


def test_line_dedup_keep_first(spark):
    rows = _line_rows(
        spark,
        [
            (0, "cookie banner\nreal content zero\ncookie banner"),
            (1, "cookie banner\nreal content one"),
            (2, "unique stuff\n\n   \nmore unique"),
        ],
    )
    # doc 0 keeps the FIRST 'cookie banner' (pos 0), loses its self-repeat
    assert rows[0]["n_lines"] == 3
    assert rows[0]["n_dup_lines"] == 1
    assert rows[0]["text_kept"] == "cookie banner\nreal content zero"
    assert rows[0]["chars_removed"] == len("cookie banner")
    assert rows[0]["dup_line_frac"] == pytest.approx(1 / 3)
    # doc 1's copy is a later occurrence → dropped
    assert rows[1]["text_kept"] == "real content one"
    # whitespace-only lines are dropped up front, not counted
    assert rows[2]["n_lines"] == 2
    assert rows[2]["n_dup_lines"] == 0
    assert rows[2]["text_kept"] == "unique stuff\nmore unique"


def test_line_dedup_keep_none(spark):
    rows = _line_rows(
        spark,
        [
            (0, "boiler\nkeep zero"),
            (1, "boiler\nkeep one"),
        ],
        keep="none",
    )
    assert rows[0]["text_kept"] == "keep zero"
    assert rows[1]["text_kept"] == "keep one"
    assert rows[0]["n_dup_lines"] == rows[1]["n_dup_lines"] == 1


def test_line_dedup_trims_before_hashing(spark):
    # '  boiler ' and 'boiler' are the same trimmed line
    rows = _line_rows(spark, [(0, "  boiler \nx"), (1, "boiler\ny")])
    assert rows[1]["text_kept"] == "y"
    assert rows[0]["text_kept"] == "boiler\nx"


def test_line_dedup_no_dups_identity(spark):
    rows = _line_rows(spark, [(0, "alpha\nbeta"), (1, "gamma\ndelta")])
    for r in rows.values():
        assert r["n_dup_lines"] == 0
        assert r["chars_removed"] == 0
        assert r["dup_line_frac"] == 0.0
    assert rows[0]["text_kept"] == "alpha\nbeta"


def test_line_dedup_string_ids(spark):
    """Non-numeric doc ids must dedup too (ADVICE r8: the former
    id·2³¹+pos bigint encoding went NULL on string ids under non-ANSI
    arithmetic, silently turning the operator into a no-op). 'first' is
    the lexicographic (id, pos) minimum."""
    from manifold_spark.operators.dedup import line_dedup, release_shingle_caches

    df = spark.createDataFrame(
        [
            ("urn:a", "cookie banner\nreal a"),
            ("urn:b", "cookie banner\nreal b"),
        ],
        "doc_id string, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in line_dedup(df).collect()}
    release_shingle_caches()
    assert rows["urn:a"]["text_kept"] == "cookie banner\nreal a"
    assert rows["urn:b"]["text_kept"] == "real b"
    assert rows["urn:b"]["n_dup_lines"] == 1


def test_line_dedup_min_count_threshold(spark):
    # at min_count=3 a line appearing twice survives everywhere
    rows = _line_rows(
        spark, [(0, "twice\na"), (1, "twice\nb")], min_count=3
    )
    assert rows[0]["text_kept"] == "twice\na"
    assert rows[1]["text_kept"] == "twice\nb"
    with pytest.raises(ValueError):
        _line_rows(spark, [(0, "x")], keep="bogus")


# ---------------------------------------------------------------------------
# NB classifier (hashed-feature fastText-style supervised filter)
# ---------------------------------------------------------------------------


def _nb_reference(train, score_docs):
    """Independent pure-Python multinomial NB with the same md5 bucket
    hashing and floor-quantization, for cross-implementation pinning."""
    import hashlib
    import re

    from manifold_spark.operators import classifier as clf

    B, S, a, seed = clf.N_BUCKETS, clf.SCORE_SCALE, clf.ALPHA, clf.FEATURE_SEED

    def toks(t):
        return [w for w in re.sub(r"[^\w]+", " ", (t or "").lower()).split() if w]

    def grams(t):
        ts = toks(t)
        return ts + [f"{ts[i]} {ts[i+1]}" for i in range(len(ts) - 1)]

    def bucket(g):
        return int(hashlib.md5(f"{seed}{g}".encode()).hexdigest()[:15], 16) % B

    cnt: dict = {}
    n_docs_c: dict = {}
    for _, text, label in train:
        n_docs_c[label] = n_docs_c.get(label, 0) + 1
        for g in grams(text):
            k = (label, bucket(g))
            cnt[k] = cnt.get(k, 0) + 1
    classes = sorted(n_docs_c)
    tot = {c: sum(v for (l, _), v in cnt.items() if l == c) for c in classes}
    n_docs = sum(n_docs_c.values())
    prior = {c: math.floor(math.log(n_docs_c[c] / n_docs) * S) for c in classes}
    default = {c: math.floor(math.log(a / (tot[c] + a * B)) * S) for c in classes}
    buckets = {b for (_, b) in cnt}
    w = {
        (c, b): math.floor(
            math.log((cnt.get((c, b), 0) + a) / (tot[c] + a * B)) * S
        )
        for c in classes
        for b in buckets
    }
    out = {}
    for doc_id, text in score_docs:
        tf: dict = {}
        for g in grams(text):
            b = bucket(g)
            tf[b] = tf.get(b, 0) + 1
        scores = []
        for c in classes:
            s = prior[c]
            for b, f in tf.items():
                s += f * w[(c, b)] if b in buckets else f * default[c]
            scores.append((-s, c))
        scores.sort()
        pred = scores[0][1]
        top = -scores[0][0]
        margin = (top - (-scores[1][0])) if len(scores) > 1 else 0
        out[doc_id] = (pred, top / S, margin / S)
    return out


_NB_TRAIN = [
    (0, "gato perro casa comida gato", "es"),
    (1, "perro gato calle casa", "es"),
    (2, "cat dog house food cat", "en"),
    (3, "dog cat street house", "en"),
    (4, "chien chat maison rue", "fr"),
    (5, "chat chien nourriture maison", "fr"),
]


def test_nb_classifier_matches_pure_python(spark):
    from manifold_spark.operators.classifier import classify_self
    from manifold_spark.operators.dedup import release_shingle_caches

    df = spark.createDataFrame(_NB_TRAIN, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: (r["pred"], r["score"], r["margin"])
        for r in classify_self(df).collect()
    }
    release_shingle_caches()
    expected = _nb_reference(_NB_TRAIN, [(i, t) for i, t, _ in _NB_TRAIN])
    for d in expected:
        assert got[d][0] == expected[d][0], d
        assert got[d][1] == pytest.approx(expected[d][1], abs=1e-6)
        assert got[d][2] == pytest.approx(expected[d][2], abs=1e-6)
    # self-classification on cleanly separated vocab is perfect
    assert [got[i][0] for i, _, _ in _NB_TRAIN] == [l for _, _, l in _NB_TRAIN]


def test_nb_classifier_held_out_with_unseen_features(spark):
    from manifold_spark.operators.classifier import (
        doc_bucket_tf,
        score_nb,
        train_nb,
    )
    from manifold_spark.operators.dedup import release_shingle_caches

    train_df = spark.createDataFrame(
        _NB_TRAIN, "doc_id long, text string, lang string"
    )
    model, classes = train_nb(
        train_df, doc_bucket_tf(train_df, carry_cols=("lang",))
    )
    held_out = [
        (100, "gato casa zzz-neverseen"),  # es vocab + one unseen token
        (101, "dog food"),
        (102, "zzz yyy xxx"),  # ALL features unseen → priors decide
    ]
    out = {
        r["doc_id"]: (r["pred"], r["score"], r["margin"])
        for r in score_nb(
            spark.createDataFrame(held_out, "doc_id long, text string"),
            model,
            classes,
        ).collect()
    }
    release_shingle_caches()
    expected = _nb_reference(_NB_TRAIN, held_out)
    for d, (pred, score, margin) in expected.items():
        assert out[d][0] == pred, d
        assert out[d][1] == pytest.approx(score, abs=1e-6)
        assert out[d][2] == pytest.approx(margin, abs=1e-6)
    assert out[100][0] == "es"
    assert out[101][0] == "en"
    # all-unseen doc: unseen mass prices identically per class only when
    # class totals match; prediction must still be deterministic
    assert out[102][0] == expected[102][0]


def test_nb_classifier_margin_zero_single_class(spark):
    from manifold_spark.operators.classifier import classify_self
    from manifold_spark.operators.dedup import release_shingle_caches

    df = spark.createDataFrame(
        [(0, "only one class here", "en"), (1, "more of it", "en")],
        "doc_id long, text string, lang string",
    )
    rows = {r["doc_id"]: r for r in classify_self(df).collect()}
    release_shingle_caches()
    assert all(r["pred"] == "en" for r in rows.values())
    assert all(r["margin"] == 0.0 for r in rows.values())


# ---------------------------------------------------------------------------
# temperature resampling
# ---------------------------------------------------------------------------


def _temp_rates_reference(counts, alpha, target):
    from manifold_spark.operators.sampling import RATE_DENOM, TEMP_SCALE

    total = sum(counts.values())
    e = {
        s: math.floor((n / total) ** alpha * TEMP_SCALE) for s, n in counts.items()
    }
    se = sum(e.values())
    out = {}
    for s, n in counts.items():
        p = n / total
        rate = min(1.0, (target * (e[s] / se)) / p)
        out[s] = math.floor(rate * RATE_DENOM)
    return out


def test_temperature_rates_match_reference(spark):
    from manifold_spark.operators.sampling import temperature_rates

    counts = {"big": 900, "mid": 90, "small": 10}
    rows = [(f"{s}-{i}", s) for s, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    got = {
        r["source"]: (r["n_rows"], r["rate_bps"])
        for r in temperature_rates(df, "source", 0.5, 0.3).collect()
    }
    exp = _temp_rates_reference(counts, 0.5, 0.3)
    assert {s: v[1] for s, v in got.items()} == exp
    assert {s: v[0] for s, v in got.items()} == counts
    # flattening direction: rare sources get HIGHER keep-rates
    assert got["small"][1] > got["mid"][1] > got["big"][1]


def test_temperature_rates_clamp_at_one(spark):
    from manifold_spark.operators.sampling import RATE_DENOM, temperature_rates

    # alpha=0 → uniform target mixture; the 1% source would need a 25×
    # upsample at target=0.5 — keep-rate clamps at 1.0
    rows = [(f"a{i}", "big") for i in range(990)] + [(f"b{i}", "tiny") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    got = {
        r["source"]: r["rate_bps"]
        for r in temperature_rates(df, "source", 0.0, 0.5).collect()
    }
    assert got["tiny"] == RATE_DENOM
    assert got["big"] < RATE_DENOM // 2 + 100


def test_temperature_sample_deterministic_and_gated(spark):
    from manifold_spark.operators.sampling import temperature_rates, temperature_sample

    counts = {"big": 400, "small": 40}
    rows = [(f"{s}-{i}", s) for s, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    kept1 = sorted(r["doc_id"] for r in temperature_sample(df, "source", "doc_id", 0.5, 0.4).collect())
    kept2 = sorted(r["doc_id"] for r in temperature_sample(df, "source", "doc_id", 0.5, 0.4).collect())
    assert kept1 == kept2  # layout-independent determinism
    rates = {
        r["source"]: r["rate_bps"]
        for r in temperature_rates(df, "source", 0.5, 0.4).collect()
    }
    by_src = {"big": 0, "small": 0}
    for d in kept1:
        by_src[d.split("-")[0]] += 1
    # kept fraction tracks the computed rate within hash noise
    for s, n in counts.items():
        assert abs(by_src[s] / n - rates[s] / 10000) < 0.12


# ---------------------------------------------------------------------------
# DSIR importance weights (composition of the gated NB machinery)
# ---------------------------------------------------------------------------


def _dsir_reference(target, raw, to_score):
    """Independent pure-Python DSIR log-ratio with the same hashing and
    quantization: (score_target - score_raw) - (prior_t - prior_r)."""
    train = [(i, t, "target") for i, t in target] + [(i, t, "raw") for i, t in raw]
    # reuse the NB reference's internals by scoring with each class and
    # recovering quantized per-class scores
    import hashlib
    import re

    from manifold_spark.operators import classifier as clf

    B, S, a, seed = clf.N_BUCKETS, clf.SCORE_SCALE, clf.ALPHA, clf.FEATURE_SEED

    def grams(t):
        ts = [w for w in re.sub(r"[^\w]+", " ", (t or "").lower()).split() if w]
        return ts + [f"{ts[i]} {ts[i+1]}" for i in range(len(ts) - 1)]

    def bucket(g):
        return int(hashlib.md5(f"{seed}{g}".encode()).hexdigest()[:15], 16) % B

    cnt, n_docs_c = {}, {}
    for _, text, label in train:
        n_docs_c[label] = n_docs_c.get(label, 0) + 1
        for g in grams(text):
            cnt[(label, bucket(g))] = cnt.get((label, bucket(g)), 0) + 1
    tot = {c: sum(v for (l, _), v in cnt.items() if l == c) for c in n_docs_c}
    buckets = {b for (_, b) in cnt}
    w = {
        (c, b): math.floor(math.log((cnt.get((c, b), 0) + a) / (tot[c] + a * B)) * S)
        for c in n_docs_c
        for b in buckets
    }
    default = {c: math.floor(math.log(a / (tot[c] + a * B)) * S) for c in n_docs_c}
    out = {}
    for doc_id, text in to_score:
        gs = grams(text)
        tf = {}
        for g in gs:
            b = bucket(g)
            tf[b] = tf.get(b, 0) + 1
        diff = 0
        for b, f in tf.items():
            wt = w[("target", b)] if b in buckets else default["target"]
            wr = w[("raw", b)] if b in buckets else default["raw"]
            diff += f * (wt - wr)
        out[doc_id] = (len(gs), diff / S)
    return out


def test_dsir_logratio_matches_reference_and_ranks_target_like_docs(spark):
    from manifold_spark.operators.classifier import dsir_logratio
    from manifold_spark.operators.dedup import release_shingle_caches

    target = [(0, "clean prose sentence structure clarity"),
              (1, "prose clarity structure paragraph sentence")]
    raw = [(10, "spam click buy now free offer"),
           (11, "click free spam offer buy"),
           (12, "prose sentence with some clarity here"),
           (13, "random words nothing in common")]
    tdf = spark.createDataFrame(target, "doc_id long, text string")
    rdf = spark.createDataFrame(raw, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_features"], r["logratio"])
        for r in dsir_logratio(tdf, rdf).collect()
    }
    release_shingle_caches()
    exp = _dsir_reference(target, raw, raw)
    assert set(got) == set(exp)
    for d in exp:
        assert got[d][0] == exp[d][0], d
        assert got[d][1] == pytest.approx(exp[d][1], abs=1e-6), d
    # the target-vocab doc outranks the spam docs in target-likeness
    assert got[12][1] > got[10][1]
    assert got[12][1] > got[11][1]
    assert got[12][1] > got[13][1]


def test_char_entropy_values(spark):
    """Crafted entropy cases: single-char runs near 0, uniform two-char
    text at ln 2, diverse text higher."""
    r = _rows(repetition_signals(_docs(spark, ["aaaaaaaa", "abababab", "abcdefgh", ""])))
    assert r[0]["char_entropy"] == pytest.approx(0.0, abs=1e-9)
    assert r[1]["char_entropy"] == pytest.approx(math.log(2), abs=1e-4)
    assert r[2]["char_entropy"] == pytest.approx(math.log(8), abs=1e-4)
    assert r[3]["char_entropy"] == 0.0
    assert r[2]["char_entropy"] > r[1]["char_entropy"] > r[0]["char_entropy"]


# ---------------------------------------------------------------------------
# C4 heuristic filters (operators/c4.py) — raw multi-line semantics; the
# registry gate exercises the chunked-corpus form.
# ---------------------------------------------------------------------------


def _c4(spark, rows, **kw):
    from manifold_spark.operators.c4 import c4_filters

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r.asDict() for r in c4_filters(df, **kw).collect()}


def test_c4_line_rules(spark):
    doc = (
        "This line has enough words and ends well.\n"
        "short line.\n"                                # < 5 words
        "this line has five words here\n"              # no terminal punct
        "Please enable javascript to view this page.\n"  # drop term
        "Another perfectly reasonable sentence appears here!\n"
    )
    got = _c4(spark, [(1, doc)], min_words_per_line=5, min_kept_lines=1)
    r = got[1]
    assert r["n_lines"] == 5
    assert r["n_kept_lines"] == 2
    assert r["text_clean"].splitlines() == [
        "This line has enough words and ends well.",
        "Another perfectly reasonable sentence appears here!",
    ]
    assert r["keep"] == 1


def test_c4_document_rules(spark):
    ok_line = "A good sentence with plenty of words in it.\n"
    rows = [
        (1, ok_line * 3),                       # clean: kept
        (2, ok_line * 2),                       # only 2 kept lines < 3
        (3, ok_line * 3 + "Lorem Ipsum dolor.\n"),  # blocklist (case-insensitive)
        (4, ok_line * 3 + "if (x) { return; }\n"),  # brace
        (5, None),                              # NULL text: degenerate-empty
    ]
    got = _c4(spark, rows, min_words_per_line=5, min_kept_lines=3)
    assert got[1]["keep"] == 1
    assert got[2]["keep"] == 0 and got[2]["n_kept_lines"] == 2
    assert got[3]["keep"] == 0 and got[3]["has_blocklisted"] == 1
    assert got[4]["keep"] == 0 and got[4]["has_brace"] == 1
    assert got[5]["keep"] == 0 and got[5]["n_lines"] == 0 and got[5]["text_clean"] == ""


def test_c4_terminal_punct_set(spark):
    rows = [(i, f"one two three four five{p}") for i, p in
            enumerate([".", "!", "?", '"', ",", ""])]
    got = _c4(spark, rows, min_words_per_line=5, min_kept_lines=1)
    assert [got[i]["n_kept_lines"] for i in range(6)] == [1, 1, 1, 1, 0, 0]


def test_c4_whitespace_word_count(spark):
    # tabs / multiple spaces count as one separator
    got = _c4(spark, [(1, "one\ttwo   three  four\tfive.")],
              min_words_per_line=5, min_kept_lines=1)
    assert got[1]["n_kept_lines"] == 1 and got[1]["keep"] == 1


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (lm.ppl_buckets / ppl_threshold_buckets)
# ---------------------------------------------------------------------------


def test_ppl_buckets_tertile_split(spark):
    rows = [(i, "en" if i < 9 else "fr", float(-i)) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, avg_logprob double")
    out = {r["doc_id"]: r for r in lm.ppl_buckets(df).collect()}
    # en: 9 docs, scores -0..-8 best-first => tertiles of 3
    assert [out[i]["ppl_bucket_label"] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )
    # fr: 3 docs, one per tier
    assert [out[i]["ppl_bucket"] for i in (9, 10, 11)] == [1, 2, 3]


def test_ppl_threshold_buckets_monotone_and_consistent(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = lm.score_docs(docs).join(docs.select("doc_id", "lang"), "doc_id")
    exact = {
        r["doc_id"]: r["ppl_bucket"]
        for r in lm.ppl_buckets(scored).collect()
    }
    approx = [
        (r["doc_id"], r["lang"], r["avg_logprob"], r["ppl_bucket"])
        for r in lm.ppl_threshold_buckets(scored).collect()
    ]
    # monotone within a language: a better score never gets a worse bucket
    by_lang = {}
    for doc_id, lang, score, b in approx:
        by_lang.setdefault(lang, []).append((score, doc_id, b))
    for lang, rows in by_lang.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
        assert all(a[2] <= b[2] for a, b in zip(rows, rows[1:])), lang
    # tracks the exact tertile split except near cut edges (t-digest):
    # at minimum 80% agreement and never off by more than one tier
    agree = sum(1 for d, _, _, b in approx if exact[d] == b)
    assert agree / len(approx) >= 0.8
    assert all(abs(exact[d] - b) <= 1 for d, _, _, b in approx)

    from manifold_spark.operators.dedup import release_shingle_caches

    release_shingle_caches()


# ---------------------------------------------------------------------------
# Distributed BPE training (operators/bpe.py) vs an independent
# pure-Python implementation of Sennrich et al.'s merge-learning loop.
# ---------------------------------------------------------------------------


def _py_bpe(texts, n_merges, min_pair_freq=2):
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.sub(r"[^\w]+", " ", t.lower()).split():
            words[w] += 1
    symtab = {w: tuple(w) + ("</w>",) for w in words}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, syms in symtab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += words[w]
        if not pairs:
            break
        # max count, ties -> lexicographic smallest (a, b)
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_pair_freq:
            break
        merges.append((a, b, cnt))
        new_tab = {}
        for w, syms in symtab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_tab[w] = tuple(out)
        symtab = new_tab
    return merges, symtab


def _spark_bpe(spark, texts, n_merges, **kw):
    from manifold_spark.operators import bpe

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, words = bpe.train_bpe(docs, n_merges, **kw)
    symtab = {
        r["word"]: tuple(r["syms"][1:-1].split("||")) for r in words.collect()
    }
    return merges, symtab, docs, words


def test_bpe_matches_pure_python(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new lower",
        "the newest lowest widest wide wide",
    ]
    for n in (1, 4, 10, 40):
        want_m, want_t = _py_bpe(texts, n)
        got_m, got_t, _, _ = _spark_bpe(spark, texts, n)
        assert got_m == want_m, n
        assert got_t == want_t, n


def test_bpe_early_stop_and_degenerate(spark):
    # single chars + uniques: no pair ever reaches min_pair_freq=3
    texts = ["a b c", "d e f"]
    merges, symtab, _, _ = _spark_bpe(spark, texts, 5, min_pair_freq=3)
    want_m, want_t = _py_bpe(texts, 5, min_pair_freq=3)
    assert merges == want_m  # may be empty or the (x,</w>) merges
    assert symtab == want_t


def test_bpe_encode_docs_and_oov(spark):
    texts = ["low lower low", "lowest low"]
    from manifold_spark.operators import bpe

    merges, symtab, docs, words = _spark_bpe(spark, texts, 6)
    enc = {r["doc_id"]: r["tokens"] for r in bpe.bpe_encode(docs, words).collect()}
    for i, t in enumerate(texts):
        want = []
        for w in t.split():
            want.extend(symtab[w])
        assert enc[i] == want, i
    # out-of-vocabulary word falls back to char + EOW symbols
    new_docs = spark.createDataFrame([(9, "zq")], "doc_id long, text string")
    got = bpe.bpe_encode(new_docs, words).collect()[0]
    assert got["tokens"] == ["z", "q", "</w>"]


def test_bpe_encode_empty_doc_emits_zero_row(spark):
    """Docs whose normalized token array is empty must still appear as
    (id, [], 0) — posexplode emits no rows for them, so without the
    left-join-back they vanished from the output entirely (ADVICE r8;
    the lm.score_docs degenerate-doc convention)."""
    from manifold_spark.operators import bpe

    _, _, _, words = _spark_bpe(spark, ["low lower low"], 4)
    new_docs = spark.createDataFrame(
        [(7, ""), (8, "  !! ??  "), (9, None), (10, "low")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in bpe.bpe_encode(new_docs, words).collect()}
    assert set(out) == {7, 8, 9, 10}
    for i in (7, 8, 9):
        assert out[i]["tokens"] == []
        assert out[i]["n_tokens"] == 0
    assert out[10]["n_tokens"] > 0


def test_bpe_word_table_upsert_equals_full(spark):
    """Incremental word-table growth: batch upserts produce EXACTLY the
    full-corpus word table, and retraining merges from the upserted
    state matches full-corpus training — continuous-ingestion tokenizer
    refresh never re-reads old batches."""
    from manifold_spark.operators import bpe

    texts = [
        "low lower lowest low low",
        "new newer newest new lower",
        "the newest lowest widest wide wide",
        "wide wider new low the the",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    state = None
    for i in range(len(texts)):
        state = bpe.word_table_upsert(docs.filter(F.col("doc_id") == i), state)
        state = state.localCheckpoint(eager=True)
    full = bpe.word_table(docs)
    assert sorted(map(tuple, state.collect())) == sorted(map(tuple, full.collect()))

    inc_m, inc_w = bpe.train_bpe_from_words(state, 6)
    full_m, full_w = bpe.train_bpe(docs, 6)
    assert inc_m == full_m
    assert sorted(map(tuple, inc_w.collect())) == sorted(map(tuple, full_w.collect()))


def test_dsir_mixture_matches_python(spark):
    """`curate_corpus(mixture="dsir")` (VERDICT r10 #8): the importance-
    weighted keep-rates and the hash gate must reproduce a pure-Python
    computation over the SAME log-ratios (which are themselves pinned
    against the pure-Python DSIR reference elsewhere in this file) —
    pinning the rate arithmetic (max-shift, integer quantization,
    normalization, bps floor, clamp) and the stage-5 wiring."""
    import math

    from manifold_spark.curation import _py_stable_long_hash, curate_corpus
    from manifold_spark.operators.classifier import dsir_logratio
    from manifold_spark.operators.sampling import DSIR_W_SCALE, RATE_DENOM

    rows = []
    en_words = ("the quick brown fox jumps over the lazy dog near the river "
                "bank while children play games in the warm summer sun")
    de_words = ("der schnelle braune fuchs springt über den faulen hund am "
                "fluss während kinder im warmen sommer spiele spielen")
    for i in range(9):
        rows.append((i, "en", f"{en_words} story number {i} ends here."))
    for i in range(9, 15):
        rows.append((i, "de", f"{de_words} geschichte nummer {i} endet."))
    rows.append((15, None, f"mixed langue text numero quinze {en_words}."))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    knobs = dict(
        min_words_per_line=1, min_kept_lines=1, require_terminal_punct=False,
        require_repetition_pass=False,
        keep_ppl_buckets=("head", "middle", "tail"),
        lsh_threshold=0.95,
    )
    tf = 0.6

    # the quality-stage survivors (mixture disabled: rate ≡ 1)
    base, _ = curate_corpus(
        docs, mixture="temperature", temperature=1.0,
        mixture_target_fraction=1.0, **knobs,
    )
    q_ids = sorted(r["doc_id"] for r in base.select("doc_id").collect())
    assert len(q_ids) >= 10
    quality = docs.filter(F.col("doc_id").isin(q_ids))

    # reference rates from the (separately pinned) log-ratios
    lrs = {
        r["doc_id"]: r["logratio"]
        for r in dsir_logratio(
            quality.filter(F.col("lang") == "en"),
            quality.filter(F.coalesce(F.col("lang"), F.lit("")) != "en"),
            score_docs=quality,
        ).collect()
    }
    m = max(lrs.values())
    wq = {d: math.floor(math.exp(lr - m) * DSIR_W_SCALE) for d, lr in lrs.items()}
    sw = sum(wq.values())
    n = len(wq)
    expect = set()
    for d in lrs:
        rate_bps = min(
            RATE_DENOM,
            math.floor((tf * float(n * wq[d]) / float(sw)) * float(RATE_DENOM)),
        )
        if _py_stable_long_hash(str(d)) % RATE_DENOM < rate_bps:
            expect.add(d)

    got_df, report = curate_corpus(
        docs, mixture="dsir", mixture_target_fraction=tf, **knobs
    )
    got = {r["doc_id"] for r in got_df.select("doc_id").collect()}
    assert got == expect
    assert report["mixture"] == len(expect)
    # the weighting must actually bite: a strict, non-empty subset
    assert 0 < len(got) < len(q_ids)


def test_bpe_state_roundtrip_refresh(spark, tmp_path):
    """Merge-table persistence (VERDICT r10 #4): save the learned
    (round, a, b, pair_freq) merges beside the upserted word table,
    reload, upsert a NEW batch, retrain — the refreshed tokenizer must
    equal from-scratch training on the full corpus, and encoding under
    the reloaded merge list must equal encoding under the fresh one."""
    from manifold_spark.operators import bpe

    old_texts = [
        "low lower lowest low low",
        "new newer newest new lower",
    ]
    new_texts = ["the newest lowest widest wide wide",
                 "wide wider new low the the"]
    old_docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(old_texts)], "doc_id long, text string"
    )
    all_docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(old_texts + new_texts)],
        "doc_id long, text string",
    )

    # epoch 1: train on the old corpus, persist state
    w1 = bpe.word_table(old_docs)
    m1, _ = bpe.train_bpe_from_words(w1, 6)
    path = str(tmp_path / "bpe-state")
    bpe.save_bpe_state(path, m1, w1)

    # reload: the merge list survives byte-for-byte IN ORDER, and the
    # word table feeds the upsert/retrain path directly
    m_loaded, w_loaded = bpe.load_bpe_state(spark, path)
    assert m_loaded == m1

    # epoch 2: new batch arrives — upsert from DISK state + retrain
    new_docs = all_docs.filter(F.col("doc_id") >= len(old_texts))
    w2 = bpe.word_table_upsert(new_docs, w_loaded)
    m2, words2 = bpe.train_bpe_from_words(w2, 6)

    full_m, full_w = bpe.train_bpe(all_docs, 6)
    assert m2 == full_m
    assert sorted(map(tuple, words2.select("word", "freq", "syms").collect())) == \
        sorted(map(tuple, full_w.select("word", "freq", "syms").collect()))

    # and the persisted EPOCH-1 merges still encode identically after a
    # disk roundtrip (the deployment artifact is the merge list)
    enc_fresh = {
        r["doc_id"]: r["tokens"]
        for r in bpe.bpe_encode(
            old_docs, bpe.encode_words(w1, m1)
        ).collect()
    }
    enc_loaded = {
        r["doc_id"]: r["tokens"]
        for r in bpe.bpe_encode(
            old_docs, bpe.encode_words(w_loaded, m_loaded)
        ).collect()
    }
    assert enc_loaded == enc_fresh


def test_dsir_keep_rates_all_null_logratios(spark):
    """ADVICE r11: `dsir_keep_rates` is public — a non-empty frame whose
    logratio column is entirely NULL (F.max skips NULLs → m is None)
    must return zero rates, not crash building F.lit(None). Unreachable
    via dsir_sample's inner score join, pinned at the public surface."""
    from manifold_spark.operators.sampling import dsir_keep_rates

    scored = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, logratio double"
    )
    out = dsir_keep_rates(scored, "logratio", 0.5)
    rows = {r["doc_id"]: r["rate_bps"] for r in out.collect()}
    assert rows == {1: 0, 2: 0}

    empty = dsir_keep_rates(
        scored.limit(0), "logratio", 0.5
    )
    assert empty.count() == 0


def test_char_ngrams_from_equals_substr_form(spark):
    """Internals pin: the native `regexp_extract_all` extractor and the
    staged char-array reference form must both be value-identical to the
    substr-per-position form on unicode, short, empty and NULL inputs
    (the default-tier Unicode torture pins are tests/test_text_extract.py)."""
    import textquality_reference as ref

    df = spark.createDataFrame(
        [("héllo wörld",), ("日本語テスト",), ("ab",), ("",), (None,), ("a b  c",)],
        "t string",
    )
    norm = lm.normalize_text(F.col("t"))
    for n in (1, 3):
        rows = df.select(
            ref.char_ngrams(norm, n).alias("old"),
            ref.char_ngrams_from(ref.char_array(norm), n).alias("staged"),
            F.coalesce(
                lm.extract_char_ngrams(norm, n), F.array().cast("array<string>")
            ).alias("new"),
        ).collect()
        for r in rows:
            assert r["old"] == r["staged"] == r["new"], (n, r)
