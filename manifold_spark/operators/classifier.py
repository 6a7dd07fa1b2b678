"""Hashed-feature text classification — the fastText-style supervised
quality/domain classifier of LLM data pipelines (GPT-3's WebText-vs-crawl
logistic filter, LLaMA's Wikipedia-reference classifier, fastText
language id), reduced to its public core: a multinomial Naive Bayes
model over hashed word uni+bigram counts, trained and applied entirely
as DataFrame aggregations.  Joachims 1998 / McCallum & Nigam 1998 for
multinomial NB; Weinberger et al. 2009 for the hashing trick; fastText
(Joulin et al. 2016) for the bag-of-ngrams + linear-model shape this
mirrors (NB is the closed-form member of that family — no SGD loop, so
training is ONE aggregation pass and the gate stays SQL-expressible).

Model (per class c, hash bucket b, smoothing α):

    w(b, c)   = ln((C(b, c) + α) / (C(·, c) + α·B))      # log P(b | c)
    prior(c)  = ln(N_c / N)
    score(d, c) = prior(c) + Σ_b tf_d(b)·w(b, c)
                 + (unseen feature mass)·default(c)      # default = w(∅, c)
    pred(d)   = argmax_c score(d, c)   (ties → label asc)

Scale shape:
- Training sums the per-doc tf relation (`doc_bucket_tf`) into a
  (label, bucket) count whose key space is bounded by B·|classes| — NOT
  the corpus — so the dense model table stays broadcastable at any
  corpus size (same bound argument as the char-LM's charset³ table,
  `operators/lm.py`).
- Scoring: per-doc tf is a doc-keyed aggregate, the model and class
  tables broadcast against it, and the per-(doc, class) fold is doc-
  keyed — the corpus never shuffles by feature.
- Cross-engine float discipline (lm.py precedent): each (bucket, class)
  log-weight is floor-quantized to an integer ONCE in the model table,
  so per-doc score sums are exact integer arithmetic — order-independent
  and oracle-exact; the only non-IEEE-pinned op is the one ln() per
  distinct model row, absorbed by the floor except at bin boundaries
  (pinned by running the gate corpus through both engines).

The reference engine has no classifier (text-only EL pipeline); this is
part of the LLM-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from manifold_spark.functions.hashing import stable_long_hash
from manifold_spark.operators.dedup import (
    _persist_tracked,
    _word_grams,
    normalized_tokens,
)
from manifold_spark.plans.parallelism import ensure_parallelism

#: Feature-hash bucket count. 2^18 keeps collisions negligible for real
#: vocabularies while the dense (bucket × class) model stays far under
#: broadcast limits; it also enters the smoothing denominator (α·B).
N_BUCKETS = 1 << 18
#: Laplace smoothing constant (integer so count arithmetic stays exact).
ALPHA = 1
#: Hash seed separating feature hashing from the dedup/sampling hash uses.
FEATURE_SEED = 41
#: Quantization scale for log-weights (see module doc / operators/lm.py).
SCORE_SCALE = 1_000_000


def feature_grams_from(toks: Column) -> Column:
    """Unigrams + word bigrams from a PRE-STAGED token array column —
    the fastText feature recipe (bag of words + word n-grams), counted
    with multiplicity (NON-distinct, unlike `dedup.word_shingles`). r14:
    the gram lambdas re-evaluate their captured input per element,
    so callers stage `normalized_tokens(text)` as its own projection
    and pass the attribute (O(len) instead of O(len²) per doc)."""
    return F.concat(_word_grams(toks, 1), _word_grams(toks, 2))


def _bucket(gram: Column, n_buckets: int) -> Column:
    return (stable_long_hash(gram, seed=FEATURE_SEED) % n_buckets).cast("long")


def _ln_q(num: Column, den: Column) -> Column:
    """floor(ln(num/den) · SCORE_SCALE) as bigint — num/den integer-valued
    doubles, so the division is engine-exact; the ln ulp is absorbed by
    the floor (lm.py discipline)."""
    p = num.cast("double") / den.cast("double")
    return F.floor(F.log(p) * F.lit(float(SCORE_SCALE))).cast("long")


def doc_bucket_tf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, *carry_cols, bucket, tf) — THE one corpus tokenize + gram +
    hash pass (r14, guide §1.2): training counts, scoring term
    frequencies and DSIR's n_features are all exact integer functions of
    this relation, so a caller that computes it once (and persists it)
    replaces up to four corpus-wide tokenize passes with one.
    ``carry_cols`` rides id-functional columns (e.g. the training label)
    through the aggregate — same groups, label constant per id — so
    training needs no corpus-shaped join to recover labels."""
    docs = ensure_parallelism(docs)
    return (
        docs.select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            normalized_tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
            F.explode(feature_grams_from(F.col("__toks"))).alias("gram"),
        )
        .select(
            id_col, *carry_cols, _bucket(F.col("gram"), n_buckets).alias("bucket")
        )
        .groupBy(id_col, *carry_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def train_nb(
    docs: DataFrame,
    tf: DataFrame,
    label_col: str = "lang",
    n_buckets: int = N_BUCKETS,
    alpha: int = ALPHA,
) -> tuple[DataFrame, DataFrame]:
    """Train the smoothed NB model. Returns (model, class_table):

    - model: (bucket, label, w_q) DENSE over observed buckets × classes —
      every bucket seen for ANY class carries a weight for EVERY class
      (zero counts priced at the smoothing floor), so scoring needs no
      per-class null handling for observed features.
    - class_table: (label, prior_q, default_q, class_total) — default_q
      prices features never observed in training (held-out docs).

    ``tf``: `doc_bucket_tf(docs, carry_cols=(label_col,))`, persisted by
    the caller (three relations below read its counts). The per-(label,
    bucket) counts are the exact integer sums of its ``tf`` column. Doc
    counts (priors) come from ``docs`` (a count-only aggregate, no
    tokenize), so classes whose docs carry no grams still get rows.
    """
    cnt = tf.groupBy(F.col(label_col).alias("label"), "bucket").agg(
        F.sum("tf").alias("cnt")
    )

    class_tot = cnt.groupBy("label").agg(F.sum("cnt").alias("class_total"))
    n_docs_c = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs_c")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    class_table = (
        # classes with docs but zero features still need rows → left join
        # from the doc-derived class list, totals coalesced to 0
        n_docs_c.join(class_tot, "label", "left")
        .crossJoin(broadcast(n_docs))
        .select(
            "label",
            _ln_q(F.col("n_docs_c"), F.col("n_docs")).alias("prior_q"),
            _ln_q(
                F.lit(alpha),
                F.coalesce(F.col("class_total"), F.lit(0))
                + F.lit(alpha) * F.lit(n_buckets),
            ).alias("default_q"),
            F.coalesce(F.col("class_total"), F.lit(0)).alias("class_total"),
        )
    )

    buckets = cnt.select("bucket").distinct()
    model = (
        buckets.crossJoin(broadcast(class_table.select("label", "class_total")))
        .join(cnt, ["bucket", "label"], "left")
        .select(
            "bucket",
            "label",
            _ln_q(
                F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(alpha),
                F.col("class_total") + F.lit(alpha) * F.lit(n_buckets),
            ).alias("w_q"),
        )
    )
    return model, class_table


def score_nb_classes(
    docs: DataFrame,
    model: DataFrame,
    class_table: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Per-(doc, class) quantized log-scores under a trained model —
    (id, label, score_q), one row per document per class. The shared
    core of `score_nb` (argmax classification) and `dsir_logratio`
    (two-class log-likelihood-ratio weighting). Features never seen in
    training price at each class's default_q.

    ``tf`` (r14): a precomputed (persisted) `doc_bucket_tf(docs, ...)`
    relation over the SAME ``docs`` — extra carried columns are
    projected away, and the caller owns its lifecycle. When None it is
    built here and persisted through the operator-cache registry."""
    if tf is None:
        # persisted: both reductions below read it. Built on the caller's
        # frame: `ensure_parallelism` of a repartitioned scan repartitions
        # again.
        tf = _persist_tracked(doc_bucket_tf(docs, text_col, id_col, n_buckets))
    docs = ensure_parallelism(docs)
    feats = tf.select(id_col, "bucket", "tf")
    matched = feats.join(broadcast(model), "bucket")
    m_sums = matched.groupBy(id_col, "label").agg(
        F.sum(F.col("tf") * F.col("w_q")).alias("m_sum"),
        F.sum("tf").alias("matched_tf"),
    )
    tf_tot = feats.groupBy(id_col).agg(F.sum("tf").alias("total_tf"))

    return (
        docs.select(id_col)
        .join(tf_tot, id_col, "left")
        .crossJoin(broadcast(class_table.select("label", "prior_q", "default_q")))
        .join(m_sums, [id_col, "label"], "left")
        .select(
            id_col,
            "label",
            (
                F.col("prior_q")
                + F.coalesce(F.col("m_sum"), F.lit(0))
                + (
                    F.coalesce(F.col("total_tf"), F.lit(0))
                    - F.coalesce(F.col("matched_tf"), F.lit(0))
                )
                * F.col("default_q")
            ).alias("score_q"),
        )
    )


def score_nb(
    docs: DataFrame,
    model: DataFrame,
    class_table: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Score + classify documents under a trained model. Returns
    (id, pred, score, margin): pred = argmax-class (ties → label asc),
    score = the winning log-score / 1e6, margin = winner − runner-up
    (0.0 for a single-class model). Features never seen in training
    price at each class's default_q — held-out docs score correctly."""
    per_class = score_nb_classes(
        docs, model, class_table, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, tf=tf,
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score_q").desc(), F.col("label"))
    return (
        per_class.withColumn("rnk", F.row_number().over(w))
        .withColumn("next_q", F.lead("score_q").over(w))
        .filter(F.col("rnk") == 1)
        .select(
            id_col,
            F.col("label").alias("pred"),
            (F.col("score_q").cast("double") / F.lit(float(SCORE_SCALE))).alias(
                "score"
            ),
            (
                F.coalesce(F.col("score_q") - F.col("next_q"), F.lit(0)).cast("double")
                / F.lit(float(SCORE_SCALE))
            ).alias("margin"),
        )
    )


def classify_self(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    tf: DataFrame | None = None,
) -> DataFrame:
    """Train on the labeled corpus and score that same corpus (the
    corpus-curation setup: fit on the labeled seed, apply everywhere) —
    emits the true label beside the prediction for accuracy auditing.
    The model is referenced by two scoring subtrees (bucket join + the
    class table); persist via the shared operator-cache registry so the
    training aggregation runs once.

    r14 (guide §1.2): training counts and scoring term frequencies both
    derive from ONE persisted `doc_bucket_tf` relation carrying the
    label — the corpus is tokenized once, not once per phase. The
    per-(label, bucket) sums are exact integers, so the model (and
    every downstream score) is bit-identical to the two-pass shape.
    ``tf``: pass an already-persisted `doc_bucket_tf(docs,
    carry_cols=(label_col,))` to share the relation with sibling
    consumers (e.g. a DSIR section over the same corpus)."""
    if tf is None:
        tf = _persist_tracked(
            doc_bucket_tf(
                docs,
                text_col=text_col,
                id_col=id_col,
                n_buckets=n_buckets,
                carry_cols=(label_col,),
            )
        )
    model, class_table = train_nb(
        docs, tf, label_col=label_col, n_buckets=n_buckets
    )
    model = _persist_tracked(model)
    class_table = _persist_tracked(class_table)
    scored = score_nb(
        docs, model, class_table, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, tf=tf,
    )
    return docs.select(id_col, F.col(label_col).alias("label_true")).join(
        scored, id_col
    )


def dsir_logratio(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    score_docs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = N_BUCKETS,
    score_tf: DataFrame | None = None,
    train_tf: DataFrame | None = None,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling" — public recipe):
    weight each document by the log-likelihood ratio of its hashed
    n-gram features under the target-domain distribution vs the raw-pool
    distribution,

        w(d) = Σ_b tf_d(b) · [ln P(b | target) − ln P(b | raw)]

    — exactly the two-class NB score difference with the class priors
    subtracted out, so this is a thin composition of the driver-gated
    classifier machinery (`train_nb` on {target, raw} + per-class
    scoring); determinism and scale shape are inherited unchanged (the
    ratio of two exact integer sums is an exact integer).

    Scores ``score_docs`` (default: the raw pool — the standard DSIR
    setup of ranking the crawl by target-likeness). Returns
    (id, n_features, logratio); select the top slice by `logratio`
    (deterministic variant of DSIR's Gumbel resampling) or threshold.

    ``score_tf`` (r14): a precomputed (persisted) `doc_bucket_tf` over
    the scored corpus; when None it is built (and persisted) here, once.
    Scoring reads it via `score_nb_classes(tf=...)` and ``n_features``
    is the per-doc exact integer sum of its ``tf`` column (total gram
    count; docs with no grams coalesce to 0). Doc ids are assumed unique
    (the curation contract): one output row per id.

    ``train_tf`` (r14): a persisted `doc_bucket_tf` relation over the
    target∪raw union carrying a ``_dsir_label`` column ('target'/'raw');
    when None it is built (and persisted) here, once. When the two pools
    partition an already-tokenized corpus, the caller derives it as a
    projection of its shared tf relation and the training tokenize pass
    disappears as well (per-(label, bucket) counts are the exact integer
    Σtf either way).
    """
    labeled = target_docs.select(
        F.col(id_col), F.col(text_col), F.lit("target").alias("_dsir_label")
    ).unionByName(
        raw_docs.select(
            F.col(id_col), F.col(text_col), F.lit("raw").alias("_dsir_label")
        )
    )
    if train_tf is None:
        train_tf = _persist_tracked(
            doc_bucket_tf(
                labeled, text_col, id_col, n_buckets, carry_cols=("_dsir_label",)
            )
        )
    model, class_table = train_nb(
        labeled, train_tf, label_col="_dsir_label", n_buckets=n_buckets
    )
    model = _persist_tracked(model)
    class_table = _persist_tracked(class_table)

    to_score = raw_docs if score_docs is None else score_docs
    if score_tf is None:
        score_tf = _persist_tracked(
            doc_bucket_tf(to_score, text_col, id_col, n_buckets)
        )
    per_class = score_nb_classes(
        to_score, model, class_table, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, tf=score_tf,
    )
    scores = per_class.groupBy(id_col).agg(
        F.max(F.when(F.col("label") == "target", F.col("score_q"))).alias("t_q"),
        F.max(F.when(F.col("label") == "raw", F.col("score_q"))).alias("r_q"),
    )
    priors = class_table.groupBy().agg(
        F.max(F.when(F.col("label") == "target", F.col("prior_q"))).alias("pt_q"),
        F.max(F.when(F.col("label") == "raw", F.col("prior_q"))).alias("pr_q"),
    )
    n_feats = score_tf.groupBy(id_col).agg(
        F.sum("tf").cast("int").alias("n_features")
    )
    return (
        scores.crossJoin(broadcast(priors))
        .join(n_feats, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_features"), F.lit(0)).cast("int").alias(
                "n_features"
            ),
            (
                ((F.col("t_q") - F.col("r_q")) - (F.col("pt_q") - F.col("pr_q")))
                .cast("double")
                / F.lit(float(SCORE_SCALE))
            ).alias("logratio"),
        )
    )
