"""Deterministic sampling and data mixing.

Training-data pipelines need REPRODUCIBLE sampling: `df.sample()` depends
on partition layout and RNG state, so the same call on the same data can
keep different rows. Hash-gating fixes that: a row is kept iff
`hash(id) mod D < k`, which is stable across engines, partitionings, and
reruns — and composable (a 10% sample is a subset of the 20% sample from
the same key space, enabling nested train/validation carve-outs).

`mix_sources` is the standard corpus-mixing step: per-source sampling
rates applied in one pass, e.g. upweight curated sources, downsample
crawl data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from manifold_spark.functions.hashing import stable_long_hash

#: Denominator for sampling rates: rates are expressed in basis points
#: (1/10000), so fractions down to 0.01% are exact integers.
RATE_DENOM = 10_000

#: Quantization scale for the temperature-resampling p^α terms (see
#: `temperature_rates` — integers make the normalizing sum exact).
TEMP_SCALE = 1_000_000_000


def sample_gate(key: Column, rate: float, seed: int = 0) -> Column:
    """Boolean keep-gate: md5-hash the key, keep the fraction `rate`.
    Exact for rates in 1/10000 steps."""
    bps = int(round(rate * RATE_DENOM))
    return stable_long_hash(key, seed=seed) % RATE_DENOM < bps


def hash_sample(df: DataFrame, key_col: str, rate: float, seed: int = 0) -> DataFrame:
    """Keep a deterministic `rate` fraction of rows by key hash."""
    return df.filter(sample_gate(F.col(key_col).cast("string"), rate, seed))


def mix_sources(
    df: DataFrame,
    source_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-source sampling in one pass: each row's keep-rate comes from its
    source's entry in `rates` (else `default_rate`). One scan, no shuffle,
    reproducible everywhere."""
    rate_expr = F.lit(int(round(default_rate * RATE_DENOM)))
    for src, rate in sorted(rates.items()):
        rate_expr = F.when(
            F.col(source_col) == src, F.lit(int(round(rate * RATE_DENOM)))
        ).otherwise(rate_expr)
    gate = stable_long_hash(F.col(key_col).cast("string"), seed=seed) % RATE_DENOM < rate_expr
    return df.filter(gate)


def stratified_sample(
    df: DataFrame,
    group_col: str,
    quotas: dict[str, int] | int,
    key_col: str,
    default_quota: int = 0,
    seed: int = 0,
) -> DataFrame:
    """EXACT per-group quotas (vs `mix_sources`' expected-rate gates):
    keep the first `quota` rows of each group under the deterministic
    hash order (stable md5 hash of the key, key as tie-break) — a seeded
    shuffle-order that is layout- and engine-independent, so "exactly
    10k docs per source" reproduces anywhere. Groups smaller than their
    quota survive whole.

    `quotas` is per-group-value (missing groups get `default_quota`) or
    one int for every group. Plan: a rank window partitioned by group —
    the same shape as top-n-per-group; each group sorts once, groups
    partition independently. A pathologically dominant group sorts in
    one task — pre-filter with `hash_sample` at a safe over-rate first
    if a group is corpus-sized (documented escape hatch, same advice as
    the skew caps)."""
    from pyspark.sql import Window

    if isinstance(quotas, int):
        quota_expr = F.lit(quotas)
    else:
        quota_expr = F.lit(default_quota)
        for grp, q in sorted(quotas.items()):
            quota_expr = F.when(F.col(group_col) == grp, F.lit(q)).otherwise(
                quota_expr
            )
    h = stable_long_hash(F.col(key_col).cast("string"), seed=seed)
    w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= quota_expr)
        .drop("_rk")
    )


def pack_documents(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    shard_col: Column | None = None,
    n_shards: int = 64,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Greedy in-order packing of documents into token-budget bins
    (sequence packing for training batches). Docs are sharded by key hash
    (parallelism at corpus scale), then chunked in id order inside each
    shard by running token total: a doc whose cumulative start lies in
    budget-window i joins bin i. Bins TARGET the budget and may overshoot
    by up to one document (the straddling doc stays in the earlier bin) —
    the closed-form window formulation; strict-capacity first-fit needs
    per-shard sequential state (an `applyInPandas` variant) and loses the
    SQL oracle. Token counts are capped at the budget so an oversized doc
    consumes exactly one budget window.

    Deterministic: shard assignment and order derive from the id. Returns
    (id, *payload_cols, shard, bin_id, n_tokens). One shuffle (by
    shard), one window pass — the sequential dependency lives inside a
    shard, which is the standard parallelization of packing.
    ``payload_cols`` ride the shard shuffle unchanged (the curation
    pipelines carry `lang` through instead of joining it back on).
    """
    from pyspark.sql import Window

    shard = (
        shard_col
        if shard_col is not None
        else stable_long_hash(F.col(id_col).cast("string")) % n_shards
    )
    capped = F.least(F.col(token_col).cast("long"), F.lit(budget))
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in payload_cols],
        shard.alias("shard"),
        capped.alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # bin = how many full budgets the running total had consumed BEFORE
    # this doc: floor((cumsum - n_tokens) / budget) packs first-fit without
    # splitting documents.
    cum = F.sum("n_tokens").over(w)
    return base.withColumn(
        "bin_id", F.floor((cum - F.col("n_tokens")) / F.lit(budget)).cast("long")
    )


def temperature_rates(
    df: DataFrame,
    source_col: str,
    alpha: float,
    target_fraction: float,
) -> DataFrame:
    """Per-source keep-rates for TEMPERATURE resampling — the standard
    multilingual/multi-source mixture flattener (XLM-R / mT5 recipe,
    Conneau et al. 2020 §3.1): the output mixture follows pₛ^α (α < 1
    upweights small sources, α = 1 preserves the natural mixture, α = 0
    is uniform). For source share pₛ = nₛ/N:

        qₛ = pₛ^α / Σ p^α                 # target mixture
        rateₛ = min(1, target_fraction · qₛ / pₛ)

    so the expected kept volume is target_fraction·N distributed as q.
    Rates that clamp at 1 (a tiny source cannot be upsampled by
    KEEPING rows — only by repetition, a separate epoch-weighting
    decision) shift the realized mixture toward the natural one; the
    returned table makes the clamp visible (`rate_bps` = 10000).

    Returns (source, n_rows, rate_bps) — one map-side-combined count
    aggregate + a |sources|-row window normalization; floor-quantized to
    basis points so the downstream hash gates are integer-exact across
    engines. Feed to `temperature_sample` (or inspect/override and feed
    `mix_sources`).

    Cross-engine float discipline (lm.py precedent): each source's p^α
    is floor-quantized to an integer ONCE, so the normalizing Σ p^α is
    an exact integer sum — order-independent under any row order (a raw
    double window-sum would diverge on accumulation order); the one
    non-IEEE-pinned op is the pow() per source, absorbed by the floor."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = Window.partitionBy()  # |sources| rows — bounded, single partition fine
    p = F.col("n_rows").cast("double") / F.sum("n_rows").over(w).cast("double")
    e = F.floor(F.pow(p, F.lit(float(alpha))) * F.lit(float(TEMP_SCALE))).cast(
        "long"
    )
    q = e.cast("double") / F.sum(e).over(w).cast("double")
    rate = F.least(F.lit(1.0), F.lit(float(target_fraction)) * q / p)
    return counts.select(
        "source",
        "n_rows",
        F.floor(rate * F.lit(float(RATE_DENOM))).cast("long").alias("rate_bps"),
    )


#: Integer quantization scale for DSIR importance weights: exp(lr−max)
#: ∈ (0,1] quantized to 2^30 steps, so the normalizing Σ is an exact
#: integer sum (order-independent) up to ~8e9 docs.
DSIR_W_SCALE = 1 << 30


def dsir_keep_rates(
    scored: DataFrame,
    logratio_col: str,
    target_fraction: float,
) -> DataFrame:
    """Per-document importance-weighted keep-rates from DSIR log-ratios
    (Xie et al. 2023): w(d) = exp(lr(d)), rate(d) = min(1, f·N·w/Σw) —
    the deterministic keep-rate form of importance RESAMPLING, so the
    expected kept volume is f·N distributed ∝ w (rates that clamp at 1
    shift realized volume down, same visibility rule as
    `temperature_rates`). Float discipline (temperature_rates
    precedent): weights shift by max(lr) (an exact rational — the
    log-ratio is an integer/SCORE_SCALE), quantize to DSIR_W_SCALE
    integers ONCE, so Σw is an exact integer sum; the one
    non-IEEE-pinned op is the exp(), absorbed by the floor. Adds
    (`rate_bps`,) to `scored`; pinned against a pure-Python reference in
    tests/test_textquality.py::test_dsir_mixture_matches_python.

    The two normalizing aggregates (max-shift + count, then Σ weights)
    are COLLECTED as driver scalars and embedded as literals — the
    kmeans-style bounded collect — instead of crossJoined 1-row frames:
    each crossJoin(broadcast(agg)) re-embedded the whole upstream plan
    of `scored` into the result (4 nested copies by the final frame),
    which pushed the curation-composed dsir path into DRIVER-heap OOM
    during plan analysis. Values are identical — the same aggregate
    jobs run either way; only the plan shape changes."""
    row = scored.agg(
        F.max(logratio_col).alias("_m"), F.count(F.lit(1)).alias("_n")
    ).collect()[0]
    m, n = row["_m"], row["_n"]
    # m is None ⇔ every logratio is NULL (F.max skips NULLs): no document
    # has an importance weight, so nothing can be kept — same zero-rate
    # shape as the empty frame. Unreachable via dsir_sample's inner score
    # join, but this function is public (ADVICE r11).
    if not n or m is None:
        return scored.withColumn("rate_bps", F.lit(0).cast("long"))
    wq = F.floor(
        F.exp(F.col(logratio_col) - F.lit(float(m)))
        * F.lit(float(DSIR_W_SCALE))
    ).cast("long")
    sw = scored.agg(F.sum(wq).alias("_sw")).collect()[0]["_sw"]
    rate = (
        F.lit(float(target_fraction))
        * (F.lit(int(n)) * wq).cast("double")
        / F.lit(float(sw))
    )
    return scored.withColumn(
        "rate_bps",
        F.least(
            F.lit(RATE_DENOM).cast("long"),
            F.floor(rate * F.lit(float(RATE_DENOM))).cast("long"),
        ),
    )


def dsir_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    target_value: str,
    target_fraction: float,
    text_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """DSIR-weighted corpus mixture (`curate_corpus(mixture="dsir")`,
    VERDICT r10 #8): train the target-vs-raw hashed-ngram models on the
    corpus's own ``source_col == target_value`` split (NULL sources
    belong to the raw pool — the r10 DSIR gate rule), weight every
    document by its importance log-ratio, and keep rows through the
    same deterministic md5 hash gate as every sampler here, at
    `dsir_keep_rates`' per-document rates. Documents the scorer cannot
    featurize (no extractable n-grams) drop — a no-signal doc has no
    importance weight. One corpus-bounded model fit + two broadcast
    scalars; the corpus shuffles only on the doc-keyed score join."""
    from manifold_spark.operators.classifier import doc_bucket_tf, dsir_logratio
    from manifold_spark.plans.boundary import _persist_tracked, stage_boundary

    target = df.filter(F.col(source_col) == F.lit(target_value))
    raw = df.filter(
        F.coalesce(F.col(source_col), F.lit("")) != F.lit(target_value)
    )
    # r14 (guide §1.2): target/raw PARTITION the corpus by source, so the
    # two-class training counts, the scoring term frequencies and
    # n_features are all exact integer functions of ONE tokenize pass —
    # the same shared-tf wiring as the classifier gate (3 of 4 corpus
    # tokenize passes gone; values bit-identical).
    tf = _persist_tracked(
        doc_bucket_tf(
            df, text_col=text_col, id_col=key_col, carry_cols=(source_col,)
        )
    )
    lr = dsir_logratio(
        target,
        raw,
        score_docs=df,
        text_col=text_col,
        id_col=key_col,
        score_tf=tf,
        train_tf=tf.select(
            key_col,
            F.when(F.col(source_col) == F.lit(target_value), F.lit("target"))
            .otherwise(F.lit("raw"))
            .alias("_dsir_label"),
            "bucket",
            "tf",
        ),
    ).select(key_col, "logratio")
    # Materialize & TRUNCATE the score table: the logratio plan embeds
    # the NB featurize/scoring subtree plus several references to the
    # caller's upstream DAG (deep when `df` is a curation stage), and
    # every downstream aggregate here would re-embed and re-analyze
    # those copies — observed as DRIVER-heap OOM during plan analysis
    # on a 4g driver late in a long session. (id, logratio) is O(docs)
    # narrow rows — the standard materialize-the-scores step.
    lr = stage_boundary(lr, eager=True)
    scored = dsir_keep_rates(
        df.join(lr, key_col), "logratio", target_fraction
    )
    gate = (
        stable_long_hash(F.col(key_col).cast("string"), seed=seed) % RATE_DENOM
        < F.col("rate_bps")
    )
    return scored.filter(gate).drop("logratio", "rate_bps")


def temperature_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    alpha: float,
    target_fraction: float,
    seed: int = 0,
) -> DataFrame:
    """Deterministic temperature-resampled corpus: `temperature_rates`
    broadcast-joined onto the corpus, rows kept by the same md5 hash
    gate as every sampler here (layout/engine-independent, nested-subset
    composable). One scan + one bounded broadcast — the corpus never
    shuffles."""
    from pyspark.sql.functions import broadcast

    rates = temperature_rates(df, source_col, alpha, target_fraction)
    gate = (
        stable_long_hash(F.col(key_col).cast("string"), seed=seed) % RATE_DENOM
        < F.col("rate_bps")
    )
    return (
        df.join(
            broadcast(rates.withColumnRenamed("source", source_col)),
            source_col,
        )
        .filter(gate)
        .drop("n_rows", "rate_bps")
    )
