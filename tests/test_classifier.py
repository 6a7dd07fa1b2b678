"""Classifier feature paths (default tier).

`classifier.doc_bucket_tf` is the one hashed-n-gram term-frequency
relation training, scoring and DSIR read. These pins hold the shared-tf wiring
row-identical to the paths that build their own relation, and count the
tokenize passes a DSIR plan runs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from manifold_spark.operators.classifier import (
    classify_self,
    doc_bucket_tf,
    dsir_logratio,
)
from manifold_spark.operators.dedup import operator_cache_scope

TOKENIZE = "regexp_extract_all"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "en"),
            (2, "the quick brown fox leaps", "en"),
            (3, "der schnelle braune fuchs", "de"),
            (4, "le renard brun rapide", None),
            (5, "", "en"),  # no grams → n_features 0, still scored
        ],
        "doc_id long, text string, lang string",
    )


def _pools(docs):
    target = docs.filter(F.col("lang") == "en")
    raw = docs.filter(F.coalesce(F.col("lang"), F.lit("")) != "en")
    return target, raw


def _tokenize_passes(df) -> int:
    """`regexp_extract_all` calls in the optimized plan, counting each
    cached relation's plan once however often the query reads it."""
    jvm = df.sparkSession._jvm
    seen = set()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name == "InMemoryTableScanExec":
            node = node.relation()
            name = "InMemoryRelation"
        if name == "InMemoryRelation":
            key = jvm.System.identityHashCode(node.cacheBuilder())
            if key in seen:
                return 0
            seen.add(key)
            return walk(node.cachedPlan())
        if name == "AdaptiveSparkPlanExec":
            return walk(node.inputPlan())
        own = sum(e.toString().count(TOKENIZE) for e in seq(node.expressions()))
        return own + sum(walk(c) for c in seq(node.children()))

    return walk(df._jdf.queryExecution().optimizedPlan())


def test_classifier_shared_tf_paths_bit_identical(docs):
    """r14 internals pin: the shared-tf wiring (train_nb(docs, tf),
    score_nb(tf=), dsir_logratio(score_tf=, train_tf=)) must reproduce
    the plain per-phase paths exactly — same model rows, same scores,
    same n_features (incl. a doc with no extractable grams → 0)."""
    with operator_cache_scope():
        plain = {r["doc_id"]: tuple(r) for r in classify_self(docs).collect()}
        tf = doc_bucket_tf(docs, carry_cols=("lang",)).persist()
        shared = {
            r["doc_id"]: tuple(r) for r in classify_self(docs, tf=tf).collect()
        }
        assert plain == shared

        target, raw = _pools(docs)
        d_plain = {
            r["doc_id"]: (r["n_features"], r["logratio"])
            for r in dsir_logratio(target, raw, score_docs=docs).collect()
        }
        train_tf = tf.select(
            "doc_id",
            F.when(F.col("lang") == "en", F.lit("target"))
            .otherwise(F.lit("raw"))
            .alias("_dsir_label"),
            "bucket",
            "tf",
        )
        d_shared = {
            r["doc_id"]: (r["n_features"], r["logratio"])
            for r in dsir_logratio(
                target, raw, score_docs=docs, score_tf=tf, train_tf=train_tf
            ).collect()
        }
        tf.unpersist()
        assert d_plain == d_shared
        assert d_plain[5][0] == 0  # gramless doc prices at zero features


def test_dsir_tokenizes_each_corpus_once(docs):
    """Without ``score_tf`` or ``train_tf``, `dsir_logratio` builds one
    persisted `doc_bucket_tf` per corpus: one over ``score_docs`` (the
    scores and ``n_features`` both read it) and one over the target∪raw
    training union (a tokenize site per pool). Passing a persisted
    ``score_tf`` only moves the scoring site into the caller's
    relation."""
    target, raw = _pools(docs)
    assert _tokenize_passes(doc_bucket_tf(docs)) == 1
    with operator_cache_scope():
        built = _tokenize_passes(dsir_logratio(target, raw, score_docs=docs))
        score_tf = doc_bucket_tf(docs).persist()
        given = _tokenize_passes(
            dsir_logratio(target, raw, score_docs=docs, score_tf=score_tf)
        )
        score_tf.unpersist()
    assert built == given == 1 + 2
