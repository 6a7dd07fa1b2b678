"""Character n-gram language-model quality scoring — the CCNet-style
perplexity filter (Wenzek et al. 2020, "CCNet: Extracting High Quality
Monolingual Datasets from Web Crawl Data") reduced to its public core:
score each document by its average log-probability under an add-k
smoothed character trigram model. Low scores flag gibberish, boilerplate
markup, and out-of-distribution text; the signal is the standard third
leg beside the ratio heuristics (`textstats.quality_metrics`) and the
repetition rules (`repetition.repetition_signals`).

Model: P(c₃ | c₁c₂) = (C(c₁c₂c₃) + k) / (C(c₁c₂·) + k·V) where C counts
corpus trigram occurrences over whitespace-normalized lowercase text,
C(c₁c₂·) sums them by 2-char prefix, and V is the corpus character
vocabulary size. Everything derives from ONE trigram-count table.

Scale shape:
- Training is one explode (3 rows per normalized char — trigram stream +
  the unigram vocab stream) into a map-side-combined groupBy whose key
  space is bounded by |charset|³, NOT the corpus: the counts table stays
  broadcastable (≲ a few M rows for real text) at any corpus size.
- Scoring joins the document trigram stream against the broadcast model
  and folds per-doc — one shuffle keyed by doc id.
- Cross-engine float discipline: each distinct trigram's log-probability
  is quantized ONCE (floor(ln(p)·10⁶) as bigint) in the model table, so
  the per-document reduction is an integer sum — order-independent and
  oracle-exact regardless of physical row order; the only unquantized
  float ops are a single IEEE-exact division before the ln and one after
  the sum. (A raw double sum of log terms would hash-diverge between
  engines on reduction order alone.)

The reference engine has no LM scoring (text-only EL pipeline); public
sources for the technique: CCNet paper, Gopher §A1.2 (quality filtering),
DuckDB/Spark docs for the SQL surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from manifold_spark.plans.parallelism import ensure_parallelism

#: Quantization scale for per-trigram log-probabilities. 1e6 keeps ~6
#: decimal digits — far below any filtering threshold's sensitivity —
#: while making per-doc sums exact integers.
TERM_SCALE = 1_000_000
#: Add-k smoothing constant (integer so count arithmetic stays exact).
SMOOTH_K = 1


def normalize_text(text: Column) -> Column:
    """Lowercase + collapse all whitespace runs to single spaces + trim —
    the canonical char-LM normalization (pattern is ASCII-safe under both
    Java regex and RE2)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def char_ngrams(norm: Column, n: int = 3) -> Column:
    """Array of n-char substrings of the normalized text; shorter than n
    → empty array (guard matters: sequence counts DOWN past zero).

    Prefer `char_ngrams_from` over a staged `char_array` column in
    corpus paths: each `substr(i, n)` here seeks from the string start
    (UTF-8 has no O(1) char index), so this form is O(len²) per doc."""
    return F.when(
        F.length(norm) >= n,
        F.transform(
            F.sequence(F.lit(1), F.length(norm) - (n - 1)),
            lambda i: norm.substr(i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_array(norm: Column) -> Column:
    """One-pass character array of ``norm`` (r14, guide §1.2): split on
    the empty pattern emits exactly the per-position characters —
    value-identical to `char_ngrams(norm, 1)` — in O(len) instead of the
    substr loop's O(len²) UTF-8 seeks. The empty-string guard keeps ''
    mapping to an empty array regardless of engine edge semantics: on the
    pinned Spark 4.1.2, split('', '') yields [] (not ['']), and empty-
    pattern split edge cases (leading/trailing empties) are JVM/Spark-
    version-sensitive — `test_char_ngrams_from_equals_substr_form` is the
    guard to re-run when bumping Spark."""
    return F.when(F.length(norm) > 0, F.split(norm, "")).otherwise(
        F.array().cast("array<string>")
    )


def char_ngrams_from(chars: Column, n: int = 3) -> Column:
    """n-char grams from a PRE-STAGED `char_array` attribute: gram i is
    the concat of its n single-char elements — the identical character
    sequence `substr(i, n)` extracts, via O(1) `element_at` lookups.
    Stage the array as its own projection first (a lambda capturing a
    non-attribute subtree re-evaluates it per element)."""
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


def train_char_lm(
    docs: DataFrame,
    text_col: str = "text",
    k: int = SMOOTH_K,
) -> DataFrame:
    """Train the smoothed trigram model. Returns the model as a DataFrame
    (tri, prefix, term_q) — term_q = floor(ln((C₃+k)/(C₂+k·V))·1e6) — plus
    the smoothing inputs as literal columns (c2 per prefix, v global) so
    `score_docs` can price unseen trigrams without retraining.

    The three aggregates (trigram counts, prefix counts, vocab size) all
    reduce to charset-bounded key spaces; the crossJoin is against the
    single-row vocab frame (broadcast by construction).
    """
    docs = ensure_parallelism(docs)  # single-row-group parquet can't split
    # r14: normalization staged as its own projection — `char_ngrams`'
    # substr lambda captures its input, and higher-order lambdas
    # re-evaluate captured subtrees PER ELEMENT: inlined, the
    # lower+regex+trim normalization ran once per CHARACTER POSITION
    # (O(len²)/doc; measured 7× on the bare trigram explode). Same rows.
    # r14 cont.: the CHAR ARRAY is staged too and trigrams concat its
    # elements — each substr(i, 3) seeks from the string start (UTF-8),
    # so even over a staged string the extraction was O(len²)/doc.
    normed = docs.select(normalize_text(F.col(text_col)).alias("__norm")).select(
        char_array(F.col("__norm")).alias("__chars")
    )
    chars = F.col("__chars")
    tri = normed.select(F.explode(char_ngrams_from(chars, 3)).alias("tri"))
    c3 = tri.groupBy("tri").agg(F.count(F.lit(1)).alias("c3"))
    c2 = c3.groupBy(F.substring("tri", 1, 2).alias("prefix")).agg(
        F.sum("c3").alias("c2")
    )
    vocab = (
        normed.select(F.explode(char_ngrams_from(chars, 1)).alias("ch"))
        .agg(F.countDistinct("ch").alias("v"))
    )
    return (
        c3.withColumn("prefix", F.substring("tri", 1, 2))
        .join(broadcast(c2), "prefix")
        .crossJoin(broadcast(vocab))
        .select(
            "tri",
            "prefix",
            "c2",
            "v",
            _term_q(F.col("c3"), F.col("c2"), F.col("v"), k).alias("term_q"),
        )
    )


def _term_q(c3: Column, c2: Column, v: Column, k: int) -> Column:
    """floor(ln((c3+k)/(c2+k·v)) · TERM_SCALE) as bigint. The division is
    IEEE-exact-reproducible (both engines divide the same two doubles);
    ln may differ by an ulp between libm implementations, which the floor
    absorbs except exactly at bin boundaries — pinned by running the gate
    corpus through both engines (values are data-deterministic)."""
    p = (c3 + F.lit(k)).cast("double") / (c2 + F.lit(k) * v).cast("double")
    return F.floor(F.log(p) * F.lit(float(TERM_SCALE))).cast("long")


def score_docs(
    docs: DataFrame,
    model: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SMOOTH_K,
) -> DataFrame:
    """Per-document average trigram log-probability under `model` (trained
    on `docs` itself when None — the self-scoring corpus-filter setup).

    Returns (id, n_trigrams, avg_logprob): avg_logprob =
    Σ term_q / (n_trigrams · 1e6), NULL for docs shorter than 3 normalized
    chars — NOT 0.0, which would be the best possible score (real scores
    are negative) and let degenerate docs rank into the 'head' perplexity
    tertile. Filter `n_trigrams > 0` before `ppl_buckets` (curate_corpus
    does). Unseen trigrams (held-out scoring) price as (k)/(C₂+k·V) via
    the model's prefix table; unseen prefixes reduce to k/(k·V) = 1/V.

    With ``model=None`` the returned plan evaluates `docs` more than once
    (LM training, then the per-document trigram scan), and a caller that
    joins the scores back reads it again. When `docs` is expensive to
    compute, pass a materialized frame — a `stage_boundary` or a persist
    (curate_corpus puts its repetition-filtered survivors behind one).
    """
    if model is None:
        # The model is referenced by three subtrees below (term join,
        # prefix fallback, vocab scalar); without materialization each
        # reference re-executes the whole training aggregation (measured:
        # 27 exchanges → 7). r14 round-close: localCheckpoint (the
        # components-loop idiom, guide §3.3) instead of persist — persist
        # only caches DATA; the LOGICAL plan still embedded the training
        # lineage and every reference COPIED it (logical plans are trees,
        # not DAGs), so a self-scoring caller's downstream plan tripled
        # the whole upstream DAG per model reference (curate_corpus
        # measured a 770 KB logical plan at the quality boundary — the
        # canonicalize/cache-lookup cost of which dominated every later
        # stage). The frame is charset³-bounded — checkpoint storage is
        # not a memory risk; lazy so the first action materializes it.
        # r15 (VERDICT r14 #7): the boundary is durability-switchable —
        # localCheckpoint locally (unchanged bench behavior), a parquet
        # write-read under spark.manifold.stageBoundary=parquet so a
        # cluster run survives executor loss (localCheckpoint blocks have
        # no replication and no recompute lineage).
        from manifold_spark.plans.boundary import stage_boundary

        model = stage_boundary(
            train_char_lm(docs, text_col=text_col, k=k), "lm-model"
        )
    prefixes = model.select("prefix", "c2", "v").distinct()
    v_row = model.select(F.max("v").alias("v_all"))

    docs = ensure_parallelism(docs)  # single-row-group parquet can't split
    # r14: normalization staged (see train_char_lm — inlined it ran per
    # character position inside the trigram lambda); char array staged
    # likewise (substr-per-position is O(len²) on UTF-8 strings).
    doc_tri = docs.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__norm")
    ).select(
        F.col(id_col), char_array(F.col("__norm")).alias("__chars")
    ).select(
        F.col(id_col), F.explode(char_ngrams_from(F.col("__chars"), 3)).alias("tri")
    ).withColumn("tri_prefix", F.substring("tri", 1, 2))

    scored = (
        doc_tri.join(broadcast(model.select("tri", "term_q")), "tri", "left")
        .join(
            broadcast(prefixes.withColumnRenamed("prefix", "tri_prefix")),
            "tri_prefix",
            "left",
        )
        .crossJoin(broadcast(v_row))
        .select(
            id_col,
            F.coalesce(
                F.col("term_q"),
                _term_q(
                    F.lit(0),
                    F.coalesce(F.col("c2"), F.lit(0)),
                    F.coalesce(F.col("v"), F.col("v_all")),
                    k,
                ),
            ).alias("term_q"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("term_q").alias("sum_q"), F.count(F.lit(1)).alias("n_tri")
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("int").alias("n_trigrams"),
            # NULL for n_trigrams == 0 (no per_doc row): 0.0 would be the
            # BEST score since real scores are negative.
            (
                F.col("sum_q").cast("double")
                / (F.col("n_tri") * F.lit(TERM_SCALE)).cast("double")
            ).alias("avg_logprob"),
        )
    )


#: CCNet's perplexity tertiles, best-scoring first.
PPL_BUCKET_LABELS = ("head", "middle", "tail")


def ppl_buckets(
    scored: DataFrame,
    group_col: str | None = "lang",
    score_col: str = "avg_logprob",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    labels: tuple[str, ...] = PPL_BUCKET_LABELS,
) -> DataFrame:
    """CCNet's head/middle/tail split: rank documents by LM score within
    each language and cut into ``n_buckets`` equal-count tiers (head =
    best average log-probability = lowest perplexity). Deterministic
    total order (score desc, id asc), so bucket assignment is exact and
    engine-portable.

    Scale: `ntile` sorts each group once — fine up to groups that sort in
    one stage (the window carries only (id, score)). For a 100 TB corpus
    use `ppl_threshold_buckets`: CCNet itself derives its head/middle/tail
    cutoffs from a SAMPLE and assigns by comparison, which needs no
    per-group global sort at all.

    Adds (ppl_bucket int 1-based, ppl_bucket_label) to ``scored``.
    """
    from pyspark.sql import Window

    part = Window.partitionBy(group_col) if group_col else Window.partitionBy()
    w = part.orderBy(F.col(score_col).desc(), F.col(id_col))
    b = F.ntile(n_buckets).over(w)
    if len(labels) == n_buckets:
        label = F.element_at(F.array(*[F.lit(x) for x in labels]), b)
    else:
        label = b.cast("string")
    return scored.withColumn("ppl_bucket", b.cast("int")).withColumn(
        "ppl_bucket_label", label
    )


#: approx_percentile rank-error budget: guarantees the returned cut's
#: rank is within ceil(n/PPL_CUT_ACCURACY) of exact (Greenwald-Khanna),
#: which is what the gate's neighbor-window radius is derived from —
#: passing it EXPLICITLY (instead of leaning on the engine default)
#: keeps the published soundness bound and the actual aggregate in sync.
PPL_CUT_ACCURACY = 10_000


def ppl_threshold_cuts(
    scored: DataFrame,
    group_col: str | None = "lang",
    score_col: str = "avg_logprob",
    n_buckets: int = 3,
    sample_fraction: float | None = None,
    id_col: str = "doc_id",
    accuracy: int = PPL_CUT_ACCURACY,
) -> DataFrame:
    """The per-group cut vector `ppl_threshold_buckets` assigns by —
    ``cuts[i-1]`` = ``approx_percentile(score, 1 - i/n_buckets)``
    (descending-score quantiles), one row per group. Factored out
    (r13, VERDICT r12 #5) so the correctness gate can adjudicate the
    PRODUCTION cut values externally — the `text_lm_score` gate emits
    per-(group, cut) ``cut_in_bounds`` booleans placing each approx cut
    inside its exact rank-neighbor window, hash-checked against a
    DuckDB mirror that computes the exact ranks. NULL scores are
    ignored (approx_percentile semantics)."""
    src = scored
    if sample_fraction is not None and sample_fraction < 1.0:
        from manifold_spark.operators.sampling import hash_sample

        src = hash_sample(scored, id_col, sample_fraction)
    grouped = src.groupBy(group_col) if group_col else src.groupBy()
    # cut[i] = score quantile separating bucket i from i+1, descending
    # score order: cuts are the (1 - i/n) quantiles.
    return grouped.agg(
        F.expr(
            f"approx_percentile({score_col}, array("
            + ", ".join(str(1 - i / n_buckets) for i in range(1, n_buckets))
            + f"), {accuracy})"
        ).alias("cuts")
    )


def ppl_threshold_buckets(
    scored: DataFrame,
    group_col: str | None = "lang",
    score_col: str = "avg_logprob",
    n_buckets: int = 3,
    labels: tuple[str, ...] = PPL_BUCKET_LABELS,
    sample_fraction: float | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The 100 TB form of `ppl_buckets`: per-group score cutpoints from
    `approx_percentile` (optionally over a deterministic hash-sample —
    exactly how CCNet derives its tertile thresholds), broadcast back and
    assigned by comparison. No per-group sort of the corpus; one bounded
    aggregate + one broadcast join. Bucket POPULATIONS are approximate at
    the cut edges (t-digest error), monotonicity is exact: a better score
    never lands in a worse bucket.
    """
    cuts = ppl_threshold_cuts(
        scored, group_col, score_col, n_buckets, sample_fraction, id_col
    )
    joined = (
        scored.join(broadcast(cuts), on=group_col)
        if group_col
        else scored.crossJoin(broadcast(cuts))
    )
    # bucket = 1 + number of cuts strictly above the score
    b = (
        F.size(F.filter(F.col("cuts"), lambda c: c > F.col(score_col))) + 1
    ).cast("int")
    if len(labels) == n_buckets:
        label = F.element_at(F.array(*[F.lit(x) for x in labels]), b)
    else:
        label = b.cast("string")
    return joined.withColumn("ppl_bucket", b).withColumn(
        "ppl_bucket_label", label
    ).drop("cuts")
