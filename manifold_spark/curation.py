"""End-to-end LLM training-data curation — the gated operators composed
in their canonical order (the C4/CCNet/Gopher-style pipeline every
"beyond the reference" operator in this repo exists to serve):

    1. heuristic clean   (operators/c4.c4_filters)
    2. exact dedup       (operators/dedup.exact_dedup)
    3. fuzzy dedup       (minhash LSH pairs → connected components →
                          one survivor per cluster)
    4. quality gates     (textstats ratios + Gopher repetition pass +
                          CCNet LM perplexity tertile)
    5. mixture control   (per-language temperature resampling)
    6. sequence packing  (token budget bins)

Each stage is the already-driver-gated operator applied verbatim — this
module adds only the composition and a per-stage accounting report, so a
user can run the whole curation pass as one call and audit exactly where
documents were dropped.

Scale: the composition inherits each stage's shape — scan-side
projections (1, 4), one-shuffle aggregates (2), banded LSH with skew
caps (3), hash gates (5), and one sharded window (6). Stage boundaries
persist (shared operator-cache registry) or truncate lineage
(`plans.boundary.stage_boundary`) so each stage's audit count and the
next stage both read the materialized frame instead of re-executing the
upstream DAG. At 100 TB you would write stage boundaries as parquet
instead; the `report` counts then come free from write metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_words_per_line: int = 1,
    min_kept_lines: int = 1,
    require_terminal_punct: bool = False,
    line_drop_terms: tuple[str, ...] | None = None,
    blocklist: tuple[str, ...] | None = None,
    lsh_threshold: float = 0.5,
    keep_ppl_buckets: tuple[str, ...] = ("head", "middle"),
    temperature: float = 0.7,
    mixture_target_fraction: float = 0.8,
    mixture: str = "temperature",
    dsir_target_lang: str = "en",
    pack_budget: int = 512,
    require_repetition_pass: bool = True,
) -> tuple[DataFrame, dict[str, int]]:
    """Run the full curation pass. Returns (packed, report):

    - packed: (id_col, lang, n_tokens, shard, bin_id) — the surviving
      documents with their training-batch bin assignment.
    - report: ordered per-stage row counts, e.g.
      {"input": N, "c4_clean": ..., "exact_dedup": ...,
       "fuzzy_dedup": ..., "quality": ..., "mixture": ..., "packed": ...}

    The count() per stage is for the audit report; drop it (or read the
    counts from stage writes) when auditing isn't needed.

    Every stage reads a materialized input, never a re-execution of the
    upstream DAG. Stages 1-3 and 5 persist through the shared
    operator-cache registry (release with `operator_cache_scope()` /
    `release_shingle_caches()`). The quality stage has three lineage
    boundaries (`plans.boundary.stage_boundary`: a lazy localCheckpoint
    by default, a durable parquet write-read under
    ``spark.manifold.stageBoundary=parquet``, made while this function
    builds the plan, not at a later action):

    - "curation-repetition": the repetition-filtered survivors, which LM
      training, scoring and the join back all read. Without it each of
      those reads re-ran the Gopher repetition explode. On a 5,000-doc
      corpus (~300 chars a doc, local[4] on 4 vCPUs) the boundary cut
      one call from 35.1 to 18.4 s and its JVM allocation from 29.6 to
      10.3 GB (medians of 10 interleaved runs).
    - "lm-model": the char-trigram LM inside `score_docs`.
    - "curation-quality": the bucketed survivors; truncates the LM-scored
      plan before the mixture stage reads it twice.

    The quality stage's character and word n-grams come from one
    `regexp_extract_all` pass per document (`lm.extract_char_ngrams`,
    `repetition.extract_word_ngrams`), and the repetition filter's plan
    has no per-character explode: it reads only ``repetition_pass``, so
    the character-entropy branch is dropped. On the same corpus and host
    this cut one call's JVM allocation from 10.2 to 6.1 GB (medians of
    10 interleaved runs, 10/10 wins); its time, 18.1 → 16.6 s, moved
    less than the run-to-run spread.
    """
    from manifold_spark.operators import dedup
    from manifold_spark.operators.dedup import _persist_tracked
    from manifold_spark.operators.lm import ppl_buckets, score_docs
    from manifold_spark.operators.repetition import repetition_signals
    from manifold_spark.operators.sampling import temperature_sample
    from manifold_spark.plans.boundary import stage_boundary

    report: dict[str, int] = {"input": docs.count()}

    # 1. heuristic clean: C4 line+document rules.
    cleaned = _persist_tracked(
        _c4_clean(
            docs, text_col, id_col, lang_col, min_words_per_line,
            min_kept_lines, require_terminal_punct, line_drop_terms, blocklist,
        )
    )
    report["c4_clean"] = cleaned.count()

    # 2. exact dedup on cleaned content (min-id survivor carries lang).
    exact = dedup.exact_dedup(
        cleaned, text_col, id_col, payload_cols=(lang_col,)
    ).select(id_col, lang_col)
    exact = _persist_tracked(exact.join(cleaned.select(id_col, text_col), id_col))
    report["exact_dedup"] = exact.count()

    # 3. fuzzy dedup: LSH pairs → components → keep each cluster's min-id
    #    (singletons keep themselves — cluster_id == own id).
    pairs = dedup.minhash_lsh_pairs(
        exact, text_col, id_col, threshold=lsh_threshold
    ).select("id_a", "id_b")
    clusters = dedup.dedup_components(exact.select(id_col), pairs, id_col=id_col)
    dropped = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    fuzzy = _persist_tracked(exact.join(dropped, id_col, "left_anti"))
    report["fuzzy_dedup"] = fuzzy.count()

    # 4. quality: Gopher repetition pass flag + CCNet perplexity tertile
    #    (trained on the surviving corpus itself — the self-scoring setup).
    survivors = fuzzy
    if require_repetition_pass:
        rep = repetition_signals(survivors, text_col=text_col, id_col=id_col)
        survivors = survivors.join(
            rep.filter(F.col("repetition_pass")).select(id_col), id_col
        )
        # Boundary: LM training, scoring and the join back all read
        # `survivors` (score_docs alone reads it three times); without
        # this each read re-ran the repetition explode over every line
        # and word n-gram. Parquet mode writes here, at plan-build time.
        survivors = stage_boundary(survivors, "curation-repetition")
    scored = score_docs(survivors, text_col=text_col, id_col=id_col).join(
        survivors.select(id_col, lang_col, text_col), id_col
    )
    # Degenerate docs (< 3 normalized chars) score NULL — exclude them
    # BEFORE bucketing so they can't occupy tertile slots (and a NULL
    # score must never survive a quality filter).
    scored = scored.filter(F.col("n_trigrams") > 0)
    bucketed = ppl_buckets(scored, group_col=lang_col, id_col=id_col)
    quality = bucketed.filter(
        F.col("ppl_bucket_label").isin(*keep_ppl_buckets)
    ).select(id_col, lang_col, text_col)
    # Boundary, not persist: the LM-scored lineage above it is a large
    # logical plan (the model subtrees copy per reference; trees, not
    # DAGs), and the mixture join below references `quality` twice
    # (corpus side + rates aggregate), so without truncation every
    # downstream action re-canonicalized it while planning (measured:
    # the mixture stage cost 13 s of which <1 s was execution). This is
    # the last of the three quality-stage boundaries (see the docstring).
    # Lazy in local mode: the stage count below materializes it; parquet
    # mode writes here, at plan-build time.
    quality = stage_boundary(quality, "curation-quality")
    report["quality"] = quality.count()

    # 5. mixture (both options are deterministic hash gates —
    #    layout-independent):
    #    - "temperature": per-language p^alpha resampling flattens the
    #      language skew (XLM-R/mT5 recipe);
    #    - "dsir": per-DOCUMENT importance-weighted keep-rates under the
    #      target-vs-raw hashed-ngram models (Xie et al. 2023; VERDICT
    #      r10 #8) — `dsir_target_lang` picks the target pool.
    if mixture == "temperature":
        mixed = temperature_sample(
            quality, lang_col, id_col,
            alpha=temperature, target_fraction=mixture_target_fraction,
        ).select(id_col, lang_col, text_col)
    elif mixture == "dsir":
        from manifold_spark.operators.sampling import dsir_sample

        mixed = dsir_sample(
            quality, lang_col, id_col, dsir_target_lang,
            target_fraction=mixture_target_fraction, text_col=text_col,
        ).select(id_col, lang_col, text_col)
    else:
        raise ValueError(f"unknown mixture {mixture!r}")
    mixed = _persist_tracked(mixed)
    report["mixture"] = mixed.count()

    # 6. packing: whitespace token budget bins.
    packed = _pack(mixed, text_col, id_col, lang_col, pack_budget)
    report["packed"] = packed.count()
    return packed, report


def _c4_clean(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    min_words_per_line: int,
    min_kept_lines: int,
    require_terminal_punct: bool,
    line_drop_terms: tuple[str, ...] | None,
    blocklist: tuple[str, ...] | None,
) -> DataFrame:
    """Curation stage 1, shared by `curate_corpus` and
    `curate_batch_incremental`: the C4 line+document rules, keeping the
    passers as (id, lang, cleaned text). lang rides the projection, so
    no join back; None term lists take the C4 defaults."""
    from manifold_spark.operators.c4 import (
        DEFAULT_BLOCKLIST,
        DEFAULT_LINE_DROP_TERMS,
        c4_filters,
    )

    return (
        c4_filters(
            docs,
            text_col=text_col,
            id_col=id_col,
            min_words_per_line=min_words_per_line,
            min_kept_lines=min_kept_lines,
            line_drop_terms=(
                DEFAULT_LINE_DROP_TERMS if line_drop_terms is None
                else line_drop_terms
            ),
            blocklist=DEFAULT_BLOCKLIST if blocklist is None else blocklist,
            require_terminal_punct=require_terminal_punct,
            passthrough_cols=(lang_col,),
        )
        .filter(F.col("keep") == 1)
        .select(id_col, lang_col, F.col("text_clean").alias(text_col))
    )


def _pack(
    mixed: DataFrame, text_col: str, id_col: str, lang_col: str, budget: int
) -> DataFrame:
    """Curation stage 6, shared by `curate_corpus` and
    `curate_batch_incremental`: whitespace token-budget bins (swap in BPE
    counts via operators/bpe.bpe_encode when a trained tokenizer is in
    play). lang rides the shard shuffle as a payload column, so no join
    back."""
    from manifold_spark.operators.sampling import pack_documents
    from manifold_spark.operators.textstats import token_count_ws

    with_tokens = mixed.select(
        id_col, lang_col, token_count_ws(F.col(text_col)).alias("n_tokens")
    )
    return pack_documents(
        with_tokens, id_col, "n_tokens", budget=budget,
        payload_cols=(lang_col,),
    )


# ---------------------------------------------------------------------------
# Incremental curation — the continuous-ingestion twin of `curate_corpus`
# (r9 stretch, VERDICT r8 #8), composed from the already-pinned
# incremental operators. The corpus-global stages become SEED-FITTED
# models (exactly the CCNet production recipe: the LM and its perplexity
# cutoffs are fit once on a reference corpus and applied to the stream;
# Wenzek et al. 2020 §4), and the dedup stages carry bounded state:
#
#   exact  → content-hash first-seen set (streaming/jobs.first_seen_upsert
#            semantics over the hash)
#   fuzzy  → incremental MinHash LSH index probed with pruned reads
#            (dedup.minhash_index_probe); ONLINE semantics: a document is
#            dropped iff it near-dups any previously seen (post-exact)
#            document — the arrival-order rule; the batch pipeline's
#            components-min rule needs future knowledge a stream doesn't
#            have (documented divergence).
#   quality/mixture → stateless per-doc gates under the seed models.
#   packing → per-batch bins (bin ids are batch-local by design; a global
#            bin id would serialize the stream).
#
# State is a `CurationState` store or nothing. With a store, each batch
# reads the history the store holds below its batch id and returns its
# own O(batch) delta for the caller to `write_delta`; with None the batch
# has no history (a one-shot run, or a stream's first trigger). The
# store's parquet versions are what truncate lineage between batches.
#
# Contract: document ids are unique across batches and MONOTONE in
# arrival order (give later batches larger ids) — then feeding the same
# corpus as ONE batch or as any id-ordered split through one store yields
# the SAME kept id set and the same summed stage counts (pinned in
# tests/test_curation.py and on the real writeStream/availableNow harness
# in test_streaming.py).
# CAP CAVEAT: split-invariance holds only while the LSH skew cap
# (`lsh_max_bucket`, default 50 — plumbed to `minhash_index_probe`)
# never ENGAGES at a batch boundary. The probe's streaming-cap
# semantics pair a bucket's early entries before it outgrows the cap,
# while a one-shot run of the same corpus sees the bucket over-cap from
# the start and emits none of those pairs — different kept sets. Raise
# `lsh_max_bucket` (or pre-shard boilerplate upstream) when exact
# split-invariance matters more than the skew bound.
# ---------------------------------------------------------------------------


def curation_models(
    seed_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n_buckets: int = 3,
    temperature: float = 0.7,
    mixture_target_fraction: float = 0.8,
) -> dict:
    """Fit the corpus-global curation models ONCE on a seed corpus:
    the char-trigram LM, per-language perplexity cutpoints (the
    `ppl_threshold_buckets` sampled-quantile form — CCNet's own
    threshold recipe), and per-language temperature keep-rates. The
    returned frames are persisted via the shared operator-cache registry
    (release with `operator_cache_scope()`); pass the dict to
    `curate_batch_incremental` / `curation_sink`."""
    from manifold_spark.operators.dedup import _persist_tracked
    from manifold_spark.operators.lm import score_docs, train_char_lm
    from manifold_spark.operators.sampling import temperature_rates

    lm_model = _persist_tracked(train_char_lm(seed_docs, text_col=text_col))
    scored = (
        score_docs(seed_docs, model=lm_model, text_col=text_col, id_col=id_col)
        .filter(F.col("n_trigrams") > 0)
        .join(seed_docs.select(id_col, lang_col), id_col)
    )
    probs = ", ".join(
        str(1 - i / n_buckets) for i in range(1, n_buckets)
    )
    cuts = _persist_tracked(
        scored.groupBy(lang_col).agg(
            F.expr(f"approx_percentile(avg_logprob, array({probs}))").alias(
                "cuts"
            )
        )
    )
    rates = _persist_tracked(
        temperature_rates(
            seed_docs, lang_col, alpha=temperature,
            target_fraction=mixture_target_fraction,
        ).withColumnRenamed("source", lang_col)
    )
    return {"lm_model": lm_model, "cuts": cuts, "rates": rates}


def curate_batch_incremental(
    batch: DataFrame,
    models: dict,
    state: CurationState | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_words_per_line: int = 1,
    min_kept_lines: int = 1,
    require_terminal_punct: bool = False,
    line_drop_terms: tuple[str, ...] | None = None,
    blocklist: tuple[str, ...] | None = None,
    lsh_threshold: float = 0.5,
    lsh_max_bucket: int = 50,
    max_ppl_bucket: int = 2,
    pack_budget: int = 512,
    require_repetition_pass: bool = True,
    audit: bool = True,
) -> tuple[DataFrame, dict, dict[str, int]]:
    """One micro-batch of incremental curation (the `foreachBatch` body).
    ``state`` is a `CurationState` store whose read horizon the caller
    pinned with `begin_batch`, or None for a batch with no history. With
    a store every state read is PRUNED (touched hash-prefix buckets,
    touched LSH key ranges, candidate docs' shingles only) instead of a
    full cumulative-state shuffle.

    Returns (packed, deltas, report): packed carries the batch's
    surviving (id, lang, n_tokens, shard, bin_id) rows; deltas the
    batch's own dedup state ({"hashes": DataFrame, "minhash": index
    dict}), which the caller appends with ``store.write_delta(batch_id,
    deltas)`` before the next batch; report the per-batch stage counts
    (same keys as `curate_corpus`). ``audit=False`` skips the per-stage
    count() actions (report comes back empty) — the production-sink fast
    path; stage frames still persist where multiple consumers need them.

    Per-batch cost is O(batch + touched LSH buckets + broadcast models) —
    independent of stream history; state is hash-set + LSH-index bounded
    (token text is never stored). ``lsh_max_bucket`` is the fuzzy
    stage's skew cap (see the module-header CAP CAVEAT: an engaging cap
    breaks exact one-shot ≡ split invariance at the boundary batch).
    Unseen languages price permissively (head bucket, keep-all mixture)
    — fit the seed to cover the stream's languages. local-mode note:
    executor storage (stage caches) shares the single JVM's heap — size
    the driver ≥4g for corpus-scale drives; on a real cluster the state
    lives on parquet and the driver holds only plans."""
    from manifold_spark.operators import dedup
    from manifold_spark.operators.dedup import _persist_tracked
    from manifold_spark.operators.lm import score_docs
    from manifold_spark.operators.repetition import repetition_signals
    from manifold_spark.operators.sampling import RATE_DENOM
    from manifold_spark.functions.hashing import stable_long_hash
    from pyspark.sql.functions import broadcast

    report: dict[str, int] = {}
    if audit:
        report["input"] = batch.count()

    # 1. heuristic clean (stateless — the batch pipeline's stage).
    cleaned = _persist_tracked(
        _c4_clean(
            batch, text_col, id_col, lang_col, min_words_per_line,
            min_kept_lines, require_terminal_punct, line_drop_terms, blocklist,
        )
    )
    if audit:
        report["c4_clean"] = cleaned.count()

    # 2. exact dedup: batch-internal min-id per content hash (ONE window
    #    shuffle — the agg+self-join form cost two), then drop hashes the
    #    store already holds (first-seen layering).
    from pyspark.sql import Window

    hashed = cleaned.withColumn("_h", F.sha2(F.col(text_col), 256))
    picked = (
        hashed.withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_h").orderBy(id_col)),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if state is not None:
        # Pruned state probe: the store reads only the hash-prefix
        # buckets this batch's content hashes fall in — O(touched
        # buckets), never O(stream history).
        picked = _persist_tracked(picked)
        prev_hashes = state.read_hashes(picked)
        if prev_hashes is not None:
            picked = picked.join(prev_hashes, "_h", "left_anti")
    exact = _persist_tracked(picked.select(id_col, lang_col, text_col))
    # picked holds exactly one row per _h (the window pick), so the
    # hashes are already distinct — no extra shuffle.
    new_hashes = picked.select("_h")
    if audit:
        report["exact_dedup"] = exact.count()

    # 3. fuzzy dedup: probe the LSH index; a batch doc drops iff it pairs
    #    with ANY previously seen doc (cross-batch: the batch side of the
    #    pair; within-batch: the larger id). The batch's own index is
    #    computed once and also returned as the state DELTA, so sinks
    #    append O(batch) per trigger. Without a store the entry reader
    #    returns None and only within-batch pairs form.
    b_index = dedup.minhash_index(exact, text_col, id_col)
    # The batch's own entries/sizes feed multiple probe subtrees (kb
    # collect, bucket counts, candidate join, verify) — persist so the
    # signature aggregation runs once.
    b_index["entries"] = _persist_tracked(b_index["entries"])
    b_index["sizes"] = _persist_tracked(b_index["sizes"])
    if state is None:
        read_entries, read_doc_state = (lambda _: None), None
    else:
        read_entries, read_doc_state = state.read_entries, state.read_doc_state
    pairs = dedup.minhash_index_probe(
        b_index, read_entries, read_doc_state,
        threshold=lsh_threshold, max_bucket=lsh_max_bucket,
    )
    b_ids = exact.select(F.col(id_col).alias("id_b")).withColumn(
        "_b_in", F.lit(True)
    )
    victims = (
        pairs.join(b_ids, "id_b", "left")
        .select(
            F.when(F.col("_b_in"), F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias(id_col)
        )
        .distinct()
    )
    fuzzy = _persist_tracked(exact.join(victims, id_col, "left_anti"))
    if audit:
        report["fuzzy_dedup"] = fuzzy.count()

    # 4+5. FUSED quality + mixture under the SEED models (r9 #3 / r10
    #    #3): ONE gated frame instead of four chained stage frames. The
    #    per-doc signals keep their two aggregate shuffles (repetition's
    #    gram relation, the LM's trigram relation — both doc_id-keyed),
    #    but the cutpoint threshold, the rate gate, and the stage
    #    filters collapse into flag COLUMNS on a single join chain, so
    #    the stage boundaries cost no extra persists/actions and the
    #    audit counts come from ONE conditional aggregate instead of two
    #    count() jobs. Semantics are unchanged: the flags replicate the
    #    exact filter conjunction (rep pass ∧ n_trigrams>0 ∧ bucket ≤
    #    max ∧ hash gate); scoring docs that fail repetition is extra
    #    map-side work but removes a stage barrier. Unseen trigrams
    #    price via the model's prefix table; unseen languages bucket
    #    'head' and keep-all mixture.
    sc = score_docs(
        fuzzy, model=models["lm_model"], text_col=text_col, id_col=id_col
    )
    bucket = (
        F.size(
            F.filter(F.col("cuts"), lambda c: c > F.col("avg_logprob"))
        )
        + 1
    )
    gated = (
        fuzzy.join(sc, id_col)
        .join(broadcast(models["cuts"]), lang_col, "left")
        .join(
            broadcast(models["rates"].select(lang_col, "rate_bps")),
            lang_col,
            "left",
        )
    )
    q_ok = (F.col("n_trigrams") > 0) & (
        F.when(F.col("cuts").isNull(), F.lit(1)).otherwise(bucket)
        <= max_ppl_bucket
    )
    if require_repetition_pass:
        rep = repetition_signals(fuzzy, text_col=text_col, id_col=id_col)
        gated = gated.join(rep.select(id_col, "repetition_pass"), id_col)
        q_ok = F.col("repetition_pass") & q_ok
    m_ok = q_ok & (
        stable_long_hash(F.col(id_col).cast("string")) % RATE_DENOM
        < F.coalesce(F.col("rate_bps"), F.lit(RATE_DENOM))
    )
    gated = gated.withColumn("_q_ok", q_ok).withColumn("_m_ok", m_ok)
    if audit:
        gated = _persist_tracked(gated)
        stage_counts = gated.agg(
            F.sum(F.col("_q_ok").cast("long")).alias("q"),
            F.sum(F.col("_m_ok").cast("long")).alias("m"),
        ).collect()[0]
        report["quality"] = stage_counts["q"] or 0
        report["mixture"] = stage_counts["m"] or 0
    mixed = _persist_tracked(
        gated.filter(F.col("_m_ok")).select(id_col, lang_col, text_col)
    )

    # 6. packing: per-batch bins (bin ids batch-local by design).
    packed = _pack(mixed, text_col, id_col, lang_col, pack_budget)
    if audit:
        report["packed"] = packed.count()
    return packed, {"hashes": new_hashes, "minhash": b_index}, report


def _py_stable_long_hash(value, seed: int = 0) -> int:
    """Driver-side twin of `functions.hashing.stable_long_hash` (md5 →
    first 15 hex chars → int). MUST track the column expression exactly —
    pinned in tests/test_curation_state.py::test_py_hash_twin_matches_column
    — so the store can compute a doc id's shingle-state bucket without a
    Spark job."""
    import hashlib

    return int(
        hashlib.md5(f"{seed}{value}".encode("utf-8")).hexdigest()[:15], 16
    )


class CurationState:
    """Parquet-backed dedup state for streaming curation — the plain-
    parquet form of a keyed Delta/Iceberg append table, built from three
    ingredients so per-trigger READ cost stays bounded while the
    cumulative state grows without bound (VERDICT r9 #2):

    1. **Keyed versions + commit markers**: each trigger's state delta
       lands in ``v{batch_id}`` (overwrite — a crashed trigger's retry
       rewrites the same dir), committed by an empty ``_COMMIT`` file
       written LAST. Readers ignore uncommitted dirs and any stray
       entry that doesn't match ``[vs]<int>``, so a partial write can
       never corrupt the next trigger. A batch's reads consider ONLY
       versions with id < its own batch_id — a retry never sees its
       crashed attempt's output (the foreachBatch idempotence recipe).
    2. **Bucketed layout, fanned out only where it pays** (r13): every
       row carries a bucket id — a hex prefix of the content hash for
       hashes, of the LSH bucket key for entries, a doc-id hash bucket
       for shingles/sizes. DELTAS store it as a SORTED data column in
       one flat file per relation (footer min/max prunes the small
       side; writes never pay per-bucket file fanout); SNAPSHOTS fan
       out into hive bucket dirs at compaction (one amortized O(state)
       rewrite) so the big side prunes by directory. The exact-dedup
       anti-join thus reads only touched hash buckets, the LSH probe
       only touched bucket-key ranges, and the Jaccard verify only the
       CANDIDATE docs' shingle rows (O(candidates), flat per trigger
       regardless of stream age).
    3. **Snapshot compaction**: once ``compact_every`` deltas accumulate
       past the last snapshot, they fold into ``s{batch_id}`` and the
       superseded dirs are garbage-collected at the NEXT trigger's start
       (deferring GC one trigger keeps a retry of the compacting batch
       replayable). The read glob is thus never more than
       ``compact_every`` deltas + one snapshot. Compaction costs one
       O(state) rewrite every N triggers — amortized O(state/N), the
       standard LSM trade.

    Local prefix lengths default small (16-way); at cluster scale raise
    ``hash_prefix_len``/``key_prefix_len`` to 2-3 hex chars and
    ``doc_buckets`` to thousands so a small batch prunes to a sliver of
    the state — since r13 that prices only snapshot READS (the lever
    the granularity exists for): delta writes are bucket-count-
    independent (one flat file per relation), so the r12 measurement's
    2–3× write penalty at 256-way no longer applies.

    ``read_stats`` accumulates the files/bytes each pruned read actually
    touched since the last `begin_batch` — the bench's flatness
    evidence.

    No delete API, deliberately (`AnnIndexStore.delete` has one): a
    takedown must stop a document from being SERVED — which happens at
    the curated-output table, not here — but whether its dedup state
    should also be forgotten is a policy choice with opposite
    failure modes (forget ⇒ a later copy of the removed document
    sails through the first-seen gate and re-enters the corpus;
    remember ⇒ the store provably retains a fingerprint of removed
    content). Forgetting is mechanically the ANN store's tombstone
    recipe applied to the hash/entry/shingle parts; it is not wired
    until a real retention policy picks a side."""

    MH_PARTS = ("entries", "shingles", "sizes")

    def __init__(
        self,
        spark,
        state_dir: str,
        hash_prefix_len: int = 1,
        key_prefix_len: int = 1,
        doc_buckets: int = 16,
        compact_every: int = 4,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.hash_prefix_len = hash_prefix_len
        self.key_prefix_len = key_prefix_len
        self.doc_buckets = doc_buckets
        self.compact_every = compact_every
        self._batch_id: int | None = None
        self._base: int | None = None
        self._live: list[int] = []
        self.read_stats: dict[str, int] = {}
        #: opt-in: the per-read os.walk byte-count is driver work nobody
        #: should pay unless they asked for the flatness evidence
        #: (`curation_sink(state_metrics=[...])` flips it on).
        self.collect_read_stats = False

    # -- directory scanning ------------------------------------------------

    def _scan(self) -> tuple[list[int], list[int]]:
        """Committed (snapshot_ids, delta_ids), ascending. Uncommitted
        dirs and stray names are invisible (ADVICE r9: a partial version
        dir left by a crash must not break the next trigger). Shared
        contract with every versioned parquet store:
        `manifold_spark.versioned_store`."""
        from manifold_spark.versioned_store import scan_committed

        return scan_committed(self.state_dir)

    def begin_batch(self, batch_id: int) -> None:
        """Pin the trigger's read horizon (< batch_id), GC dirs that a
        committed snapshot strictly BEFORE this batch supersedes (safe:
        batch N starting means batch N−1's epoch committed, so no retry
        can need them), sweep CRASHED partial dirs below this trigger
        (same reasoning: only THIS trigger can replay, so an uncommitted
        dir with a lower id can never be retried and would otherwise
        leak disk forever — the r12 `AnnIndexStore` parity fix, shared
        via `versioned_store.sweep_uncommitted`), and reset the
        read-stat counters."""
        import os
        import shutil

        from manifold_spark.versioned_store import sweep_uncommitted

        sweep_uncommitted(self.state_dir, batch_id)
        snaps, deltas = self._scan()
        self._batch_id = batch_id
        older_snaps = [s for s in snaps if s < batch_id]
        self._base = older_snaps[-1] if older_snaps else None
        lo = self._base if self._base is not None else -1
        self._live = [d for d in deltas if lo < d < batch_id]
        self.read_stats = {}
        if self._base is not None:
            for name, vid in [("v", d) for d in deltas if d <= self._base] + [
                ("s", s) for s in snaps if s < self._base
            ]:
                shutil.rmtree(
                    os.path.join(self.state_dir, f"{name}{vid}"),
                    ignore_errors=True,
                )

    def _version_names(self) -> list[str]:
        names = [f"v{d}" for d in self._live]
        if self._base is not None:
            names.insert(0, f"s{self._base}")
        return names

    def _pruned_sources(
        self, part: str, pcol: str, buckets: list | None
    ) -> tuple[list[str], list[str]]:
        """Concrete read sources for `part` across the read horizon,
        split by on-disk layout (r13 — reads must serve both):

        - **partitioned** (snapshots, and pre-r13 deltas): hive bucket
          dirs; pruned to the touched ``{pcol}={bucket}`` leaf dirs.
        - **flat** (r13 deltas): one file per relation per trigger with
          the bucket id as a SORTED data column; the whole (O(batch)-
          small) file is a read source and the bucket `isin` pushes to
          the parquet footer min/max instead of the directory tree.

        Accumulates files/bytes of both into read_stats (flat delta
        files count fully — honest: the footer prune saves decode, not
        scan bytes, and the files are trigger-sized)."""
        import os

        part_dirs: list[str] = []
        flat_dirs: list[str] = []
        for v in self._version_names():
            root = os.path.join(self.state_dir, v, part)
            if not os.path.isdir(root):
                continue
            if any(
                "=" in name and os.path.isdir(os.path.join(root, name))
                for name in os.listdir(root)
            ):
                if buckets is None:
                    part_dirs.append(root)
                else:
                    for b in buckets:
                        d = os.path.join(root, f"{pcol}={b}")
                        if os.path.isdir(d):
                            part_dirs.append(d)
            elif self._has_parquet(root):
                # The parquet guard matters for LEGACY empty deltas
                # (pre-r13 partitionBy wrote only _SUCCESS for an
                # all-duplicate trigger — the ADVICE-r10 shape): no '='
                # subdirs, no parquet — handing the bare dir to
                # spark.read.parquet would die with
                # UNABLE_TO_INFER_SCHEMA. r13 flat deltas always hold a
                # schema-ful (possibly 0-row) file.
                flat_dirs.append(root)
        if self.collect_read_stats:
            from manifold_spark.versioned_store import walk_parquet_stats

            files, size = walk_parquet_stats(part_dirs + flat_dirs)
            self.read_stats[f"{part}_files"] = (
                self.read_stats.get(f"{part}_files", 0) + files
            )
            self.read_stats[f"{part}_bytes"] = (
                self.read_stats.get(f"{part}_bytes", 0) + size
            )
        return part_dirs, flat_dirs

    def _read_pruned(
        self, part: str, pcol: str, buckets: list | None, cols: list[str]
    ) -> DataFrame | None:
        """Bucket-pruned union of both layouts of `part` (see
        `_pruned_sources`); data columns only — the read-back partition
        value is never trusted (ADVICE r10). None when nothing prunes
        in."""
        part_dirs, flat_dirs = self._pruned_sources(part, pcol, buckets)
        frames: list[DataFrame] = []
        if part_dirs:
            frames.append(self.spark.read.parquet(*part_dirs).select(*cols))
        if flat_dirs:
            df = self.spark.read.parquet(*flat_dirs)
            if buckets is not None:
                df = df.filter(F.col(pcol).isin(buckets))
            frames.append(df.select(*cols))
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    # -- pruned reads --------------------------------------------------------

    def read_hashes(self, batch_hashed: DataFrame) -> DataFrame | None:
        """State content hashes in the buckets `batch_hashed`'s `_h`
        column touches (one bounded collect: ≤ 16^prefix_len values)."""
        if not self._version_names():
            return None
        pfxs = [
            r["p"]
            for r in batch_hashed.select(
                F.substring("_h", 1, self.hash_prefix_len).alias("p")
            )
            .distinct()
            .collect()
        ]
        return self._read_pruned("hashes", "pfx", pfxs, ["_h"])

    def read_entries(self, b_entries: DataFrame) -> DataFrame | None:
        """State LSH entries in the key-prefix buckets the batch's
        entries touch, tightened to exactly the touched (band, key)
        buckets by a broadcast semi-join."""
        from pyspark.sql.functions import broadcast

        if not self._version_names():
            return None
        kbs = [
            r["p"]
            for r in b_entries.select(
                F.substring("key", 1, self.key_prefix_len).alias("p")
            )
            .distinct()
            .collect()
        ]
        prev = self._read_pruned(
            "mh_entries", "kb", kbs, ["doc_id", "band", "key"]
        )
        if prev is None:
            return None
        return prev.join(
            broadcast(b_entries.select("band", "key").distinct()),
            ["band", "key"],
            "leftsemi",
        )

    def read_doc_state(
        self, old_ids: list
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """(shingles, sizes) for exactly the given old-side candidate
        docs: partition-pruned by the driver-side hash-bucket twin, then
        row-filtered (the verify join re-filters anyway — the isin is
        scan reduction, skipped past 10k ids where the literal list
        would bloat the plan). (None, None) when no pruned dir holds any
        of the buckets — unreachable when candidates came from this
        stream's own entries, but the invariant is now explicit instead
        of a zero-path `spark.read.parquet()` crash."""
        buckets = sorted({
            _py_stable_long_hash(str(v)) % self.doc_buckets for v in old_ids
        })
        sh = self._read_pruned("mh_shingles", "dpfx", buckets, ["doc_id", "h"])
        sizes = self._read_pruned("mh_sizes", "dpfx", buckets, ["doc_id", "n"])
        if sh is None or sizes is None:
            return None, None
        if len(old_ids) <= 10_000:
            sh = sh.filter(F.col("doc_id").isin(old_ids))
            sizes = sizes.filter(F.col("doc_id").isin(old_ids))
        return sh.select("doc_id", "h"), sizes.select("doc_id", "n")

    # -- writes ----------------------------------------------------------------

    def _project(self, part: str, frame: DataFrame) -> tuple[DataFrame, str]:
        """Data columns + partition column RE-DERIVED from the data for
        `part` — the single projection both `write_delta` and
        `maybe_compact` go through. Compaction MUST NOT trust the
        partition value Spark read back: partition-type inference turns
        an all-numeric string bucket ('05') into int 5 and a rewrite
        would land it under ``pfx=5``, silently invisible to pruned
        probes of ``pfx=05`` (ADVICE r10, reproduced; latent at the
        prefix lengths the cluster-scale docstring recommends). Deriving
        pfx/kb/dpfx from `_h`/`key`/`doc_id` at every write makes the
        directory names a pure function of the data."""
        from manifold_spark.functions.hashing import stable_long_hash

        if part == "hashes":
            return (
                frame.select(
                    "_h",
                    F.substring("_h", 1, self.hash_prefix_len).alias("pfx"),
                ),
                "pfx",
            )
        if part == "mh_entries":
            return (
                frame.select(
                    "doc_id", "band", "key",
                    F.substring("key", 1, self.key_prefix_len).alias("kb"),
                ),
                "kb",
            )
        dpfx = F.pmod(
            stable_long_hash(F.col("doc_id").cast("string")),
            F.lit(self.doc_buckets),
        ).alias("dpfx")
        cols = {"mh_shingles": ("doc_id", "h"), "mh_sizes": ("doc_id", "n")}[
            part
        ]
        return frame.select(*cols, dpfx), "dpfx"

    def state_totals(self) -> dict[str, int]:
        """Total committed-state parquet files/bytes on disk — published
        next to `read_stats` so the bench shows the pruned-read fraction
        explicitly (read ≤ total; the gap is what pruning saved)."""
        import os

        from manifold_spark.versioned_store import walk_parquet_stats

        snaps, deltas = self._scan()
        files, size = walk_parquet_stats(
            [
                os.path.join(self.state_dir, name)
                for name in [f"s{s}" for s in snaps] + [f"v{d}" for d in deltas]
            ]
        )
        return {"state_total_files": files, "state_total_bytes": size}

    @staticmethod
    def _has_parquet(path: str) -> bool:
        """True iff the dir holds at least one parquet file (the
        ADVICE-r10 empty-delta guard — shared contract:
        `versioned_store.has_parquet`)."""
        from manifold_spark.versioned_store import has_parquet

        return has_parquet(path)

    def write_delta(self, batch_id: int, deltas: dict) -> None:
        """Persist the batch's O(batch) state delta as ``v{batch_id}``:
        full-dir overwrite (idempotent under trigger retry), committed by
        the `_COMMIT` marker only after every part landed. The four part
        writes are independent jobs — submitted concurrently (driver
        threads; Spark schedules them FIFO across the same executors) so
        the per-trigger write cost is the largest part, not the sum.

        Layout (r13 — VERDICT r12 #3, decoupling read pruning from
        write fanout): a delta is ONE FLAT file per relation, sorted by the bucket column (stored as data, not as
        hive dirs) — parquet footer min/max gives the small-delta read
        side the same bucket prune the directory tree would, while the
        write never pays per-bucket fanout (measured r12: 256-way
        prefixes cost 630–2,528 files and 2–3× wall per corpus-sized
        trigger for zero read benefit at that batch/bucket ratio). The
        directory fanout happens ONLY at compaction, where one
        O(state) rewrite amortizes it and snapshot reads — the reads
        bucket granularity exists for — get the full dir prune. So
        raising ``doc_buckets``/prefix lengths into the thousands now
        prices reads only, which is the terminal 100 TB form."""
        import os
        import shutil
        from concurrent.futures import ThreadPoolExecutor

        root = os.path.join(self.state_dir, f"v{batch_id}")
        shutil.rmtree(root, ignore_errors=True)
        mh = deltas["minhash"]
        parts = {
            "hashes": deltas["hashes"],
            "mh_entries": mh["entries"],
            "mh_shingles": mh["shingles"],
            "mh_sizes": mh["sizes"],
        }

        def _write(item):
            part, frame = item
            proj, pcol = self._project(part, frame)
            # repartition(1), NOT coalesce(1): the delta is a lazy plan
            # (the trigger's LSH/hash tail), and coalesce would collapse
            # everything after its last exchange into the single write
            # task — measured +5-8 s/trigger at sf0.1. The round-robin
            # shuffle is O(batch) and keeps the upstream stage parallel;
            # the single-task sort of a trigger-sized partition is noise.
            proj.repartition(1).sortWithinPartitions(pcol).write.mode(
                "overwrite"
            ).parquet(os.path.join(root, part))

        with ThreadPoolExecutor(max_workers=len(parts)) as pool:
            list(pool.map(_write, parts.items()))
        from manifold_spark.versioned_store import write_commit_marker

        write_commit_marker(root)

    def maybe_compact(self, batch_id: int) -> None:
        """Fold the live deltas (+ previous snapshot) into
        ``s{batch_id}`` once ``compact_every`` deltas accumulated.
        Idempotent: a retry that finds its snapshot already committed
        skips; a partial snapshot dir is rewritten. Superseded dirs are
        NOT deleted here — `begin_batch` of a LATER trigger GCs them,
        so a retry of THIS trigger can still read its inputs. Empty
        deltas are skipped per-part (`_has_parquet`), and the snapshot's
        partition columns are re-derived from the data (`_project`) —
        never round-tripped through partition-type inference."""
        import os
        import shutil
        from concurrent.futures import ThreadPoolExecutor

        snaps, deltas = self._scan()
        if batch_id in snaps:
            return
        base = max((s for s in snaps if s < batch_id), default=None)
        lo = base if base is not None else -1
        live = [d for d in deltas if lo < d <= batch_id]
        if len(live) < self.compact_every:
            return
        sources = ([f"s{base}"] if base is not None else []) + [
            f"v{d}" for d in live
        ]
        root = os.path.join(self.state_dir, f"s{batch_id}")
        shutil.rmtree(root, ignore_errors=True)

        data_cols = {
            "hashes": ["_h"],
            "mh_entries": ["doc_id", "band", "key"],
            "mh_shingles": ["doc_id", "h"],
            "mh_sizes": ["doc_id", "n"],
        }

        def _compact_part(part: str) -> None:
            frames = []
            for src in sources:
                p = os.path.join(self.state_dir, src, part)
                if os.path.isdir(p) and self._has_parquet(p):
                    # Data columns ONLY: the read-back partition column is
                    # inference-typed (string '05' vs int 5 across
                    # versions) and must neither be unioned nor trusted.
                    frames.append(
                        self.spark.read.parquet(p).select(*data_cols[part])
                    )
            if not frames:
                return
            merged = frames[0]
            for f in frames[1:]:
                merged = merged.unionByName(f)
            proj, pcol = self._project(part, merged)
            # one file per bucket value — see write_delta
            proj.repartition(F.col(pcol)).write.partitionBy(pcol).mode(
                "overwrite"
            ).parquet(os.path.join(root, part))

        with ThreadPoolExecutor(max_workers=len(self.MH_PARTS) + 1) as pool:
            list(
                pool.map(
                    _compact_part,
                    ("hashes", "mh_entries", "mh_shingles", "mh_sizes"),
                )
            )
        from manifold_spark.versioned_store import write_commit_marker

        write_commit_marker(root)


def start_curation_stream(
    stream: DataFrame,
    models: dict,
    state_dir: str,
    out_path: str,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str | None = None,
    **sink_knobs,
):
    """Deploy incremental curation as a Structured Streaming query: the
    one-call production wiring of `curation_sink` —

        readStream(...) → foreachBatch(curation_sink) with a CHECKPOINT

    Returns the started `StreamingQuery`. The checkpoint is what makes
    the store's idempotence contract real across process restarts: the
    engine replays the last uncommitted batch with the SAME batch_id,
    and the sink's reads (< batch_id horizon), output partition
    overwrite, and state-version overwrite converge to the same bytes
    (crash points pinned in tests/test_curation_state.py; restart-resume
    across a new query instance pinned in
    tests/test_streaming.py::test_curation_stream_restart_resumes).

    ``available_now=True`` drains the source and stops (batch backfill /
    catch-up); ``processing_time`` (e.g. ``"5 minutes"``) sets a
    steady-state trigger cadence. `sink_knobs` forward to
    `curation_sink` (store layout knobs + pipeline knobs + audit)."""
    sink = curation_sink(models, state_dir, out_path, **sink_knobs)
    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def curation_sink(
    models: dict,
    state_dir: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    hash_prefix_len: int = 1,
    key_prefix_len: int = 1,
    doc_buckets: int = 16,
    compact_every: int = 4,
    state_metrics: list | None = None,
    **knobs,
):
    """foreachBatch body factory for streaming curation: run
    `curate_batch_incremental` per trigger against the bucketed,
    snapshot-compacted `CurationState` store, and write the kept rows to
    ``out_path/batch_id=<id>`` (full overwrite of the batch's own
    partition — a redelivered trigger rewrites identical rows instead of
    double-appending; readers take `spark.read.parquet(out_path)` and
    get `batch_id` back as a partition column).

    Idempotence under the streaming retry contract: state reads see only
    versions < batch_id (never the crashed attempt's own output), the
    output partition and the state version are both overwrite-by-
    batch_id, and compaction commits via marker before GC — any crash
    point replays to the same bytes. Pass ``state_metrics=[]`` to
    receive one dict per trigger with the pruned state-read files/bytes
    (the bench's flatness evidence). Batch≡stream parity is pinned in
    tests/test_streaming.py."""
    from manifold_spark.operators.dedup import operator_cache_scope

    def sink(batch: DataFrame, batch_id: int) -> None:
        store = CurationState(
            batch.sparkSession, state_dir,
            hash_prefix_len=hash_prefix_len, key_prefix_len=key_prefix_len,
            doc_buckets=doc_buckets, compact_every=compact_every,
        )
        store.collect_read_stats = state_metrics is not None
        store.begin_batch(batch_id)
        with operator_cache_scope():
            packed, deltas, report = curate_batch_incremental(
                batch, models, store,
                text_col=text_col, id_col=id_col, lang_col=lang_col, **knobs,
            )
            packed.write.mode("overwrite").parquet(
                f"{out_path}/batch_id={batch_id}"
            )
            store.write_delta(batch_id, deltas)
            store.maybe_compact(batch_id)
        if state_metrics is not None:
            state_metrics.append(
                {
                    "batch_id": batch_id,
                    **store.read_stats,
                    **store.state_totals(),
                    **report,
                }
            )

    return sink
