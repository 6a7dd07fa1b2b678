"""Deduplication operators for large-scale document corpora.

Generalizes the reference's exact-dedup surface (A1 `distinct` + P9 sha256
fingerprint, `el_to_parquet.py:177-193`) to the fuzzy-dedup family a
training-data pipeline needs:

- `exact_dedup`          content-hash group-by (survivor = min id)
- `minhash_lsh_pairs`    word-shingle MinHash signatures → banded LSH
                         buckets → candidate pairs → exact-Jaccard verify
- `simhash_pairs`        32-bit SimHash → byte-band buckets → Hamming verify
- `ngram_jaccard_pairs`  exact n-gram Jaccard within blocking keys
- near-dup by embedding cosine lives in `operators/similarity.py`

All of it is built-in Column expressions (md5/sha2/array ops) — JVM-side,
whole-stage codegen, no Python in the hot path. Hashes derive from md5
(`functions.hashing.stable_long_hash`), so signatures are identical on any
engine and across cluster layouts.

Scale design: LSH is the point — candidate generation is
O(docs × bands) exploded rows shuffled by (band, key), never the O(n²)
cross join. Bucket skew (a viral boilerplate string) is capped by
`max_bucket` before pairing, the standard guard at web scale. The final
verify joins shingle sets back by doc_id — an equi join on the candidate
pair list, which is tiny relative to the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from manifold_spark.functions.hashing import stable_long_hash
from manifold_spark.plans.boundary import (  # noqa: F401  (re-exported)
    _SHINGLE_CACHES,
    _persist_tracked,
    _release,
    operator_cache_scope,
    release_shingle_caches,
    stage_boundary,
)
from manifold_spark.plans.parallelism import ensure_parallelism


def normalized_tokens(text: Column) -> Column:
    """Lowercase, strip non-alphanumerics to spaces, split on whitespace,
    drop empties — the shared canonicalization for every fuzzy-dedup op.

    r15 (guide §1.2): ONE `regexp_extract_all('[\\p{L}\\p{N}]+')` pass
    instead of regexp_replace-to-spaces + split + filter — RegExpReplace
    rebuilds a replacement buffer per match (~1 match per token), which
    measured 51× slower than extraction on a 500k-doc corpus for
    identical values. Equality for EVERY input: maximal letter/digit
    runs are the same set either way (both engines extract BEFORE
    lowering, so run boundaries are identical), and per-token lowering
    equals whole-string lowering restricted to the run — Java's only
    context-sensitive lowering rule (final sigma) sees a non-letter
    boundary in both forms. Pinned against the old form
    (`tests/reference_forms.py`); the dedup oracle gates mirror the
    value."""
    return F.transform(
        F.regexp_extract_all(text, F.lit(r"[\p{L}\p{N}]+"), F.lit(0)),
        lambda t: F.lower(t),
    )


def _word_grams(tokens: Column, n: int, distinct: bool = False) -> Column:
    """Word n-grams: transform over a 0..size-n index sequence (built-in
    higher-order functions — no explode, no UDF); ``distinct`` drops
    repeats for set semantics.

    Docs shorter than n tokens yield an empty array — guarded up front
    because `sequence(0, -1)` counts DOWN and ANSI `element_at` throws on
    out-of-bounds."""
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    if distinct:
        grams = F.array_distinct(grams)
    return F.when(F.size(tokens) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct n-word shingles."""
    return _word_grams(tokens, n, distinct=True)


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, payload_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Exact duplicate removal by content hash; survivor is the smallest id
    (deterministic). Returns (id, content_hash, dup_count, *payload_cols).

    ``payload_cols`` are carried through the aggregate with `min_by` (the
    survivor row's values) instead of a join-back — the whole operator
    stays ONE map-side-combined shuffle; a corpus-sized survivors⋈corpus
    equi-join would add a second full shuffle for data the aggregate
    already saw."""
    hashed = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash"), *payload_cols
    )
    return (
        hashed.groupBy("content_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
            *[F.min_by(F.col(c), F.col(id_col)).alias(c) for c in payload_cols],
        )
        .select(id_col, "content_hash", "dup_count", *payload_cols)
    )


#: Mersenne prime 2^31-1: permutation arithmetic (a·h + b) mod M stays
#: under 2^62, safe from ANSI-mode long-overflow errors.
_MERSENNE = (1 << 31) - 1


def _permutation_constants(num_perm: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for Carter-Wegman permutations, derived
    from md5 so they are reproducible anywhere (no RNG state)."""
    import hashlib

    out = []
    for i in range(num_perm):
        d = hashlib.md5(f"minhash-{seed}-{i}".encode()).hexdigest()
        a = (int(d[:15], 16) % (_MERSENNE - 1)) + 1
        b = int(d[15:30], 16) % _MERSENNE
        out.append((a, b))
    return out


def shingle_rows(df: DataFrame, text_col: str, id_col: str, shingle_n: int) -> DataFrame:
    """(doc_id, shingle) exploded rows — the scalable layout for corpus-wide
    hashing: one codegen'd hash per shingle, map-side partial aggregation
    for everything downstream (vs. nested higher-order functions, which are
    interpreted and re-evaluate the hash per permutation).

    r14 (guide §1.2 per-task work): the token array is STAGED as its own
    projection below the shingle transform. Inlined, `word_shingles`'
    lambda captured the whole `normalized_tokens` subtree (lower + regex
    strip + split + filter), and higher-order lambdas re-evaluate
    captured subtrees PER ELEMENT — O(len²) work per document (measured
    40× on the sf0.1 corpus: 19.7 s → 0.5 s single-task for the bare
    explode). Identical shingle rows either way."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        normalized_tokens(F.col(text_col)).alias("__toks"),
    )
    return toks.select(
        "doc_id",
        F.explode(word_shingles(F.col("__toks"), shingle_n)).alias("shingle"),
    )


def _minhash_sigs(sh: DataFrame, num_perm: int) -> DataFrame:
    """(doc_id, n_sh, sig_0..sig_{n-1}) from hashed shingle rows — one
    groupBy with num_perm map-side-combined min-aggregates.

    r14: each min-aggregate is ONE `F.expr` parse of the same tree the
    Column chain built — including the analyzer's int→bigint literal
    casts (the a/b/Mersenne constants fit int, so `F.lit` makes int
    literals that analysis casts to match the long `h0`; the SQL text
    spells those casts out for node-for-node analyzed equality, pinned
    in test_linalg_fastpath.py). Cuts ~7 py4j round trips per
    permutation from every pair-generator call."""
    perms = _permutation_constants(num_perm)
    h0 = sh.withColumn("h0", F.col("h") % _MERSENNE)
    return h0.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[
            F.expr(
                f"min(((CAST({a} AS BIGINT) * h0) + CAST({b} AS BIGINT))"
                f" % CAST({_MERSENNE} AS BIGINT))"
            ).alias(f"sig_{i}")
            for i, (a, b) in enumerate(perms)
        ],
    )


def _minhash_band_entries(sigs: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc_id, band, key) LSH bucket entries: sha2 over each band's
    signature slice, exploded scan-side."""
    rows = num_perm // bands
    # r14: one F.expr parse per band (same tree as the aliased
    # F.struct/F.sha2/F.concat_ws chain — the linalg fastpath precedent).
    band_structs = [
        F.expr(
            f"struct({b} AS band, sha2(concat_ws(',', "
            + ", ".join(f"sig_{b * rows + r}" for r in range(rows))
            + "), 256) AS key)"
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id",
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def _verify_candidates(
    candidates: DataFrame, sh: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of (id_a, id_b) candidates via sparse
    intersection counts over hashed shingle rows; sizes is (doc_id, n)."""
    sa = sh.select(F.col("doc_id").alias("id_a"), "h")
    sb = sh.select(F.col("doc_id").alias("id_b"), "h")
    inter = (
        candidates.join(sa, "id_a")
        .join(sb, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _bucket_candidate_pairs(
    entries: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from LSH bucket entries,
    formed in ONE pass over the entries (r14 round-close, guide §2.4):
    a window count per bucket gates the skew cap, the surviving entries
    group into per-bucket id lists (the groupBy reuses the window's
    (bucket) hash partitioning — no second exchange), and the i<j pairs
    explode SCAN-SIDE from each ≤``max_bucket`` list. The former shape —
    count-aggregate → cap join → entries⋈entries self-join — shuffled
    the entry relation three times and sorted it twice; values are
    identical (same capped buckets, same unordered pair set, pinned by
    the untouched oracle gates).

    Skew safety at 100 TB: the cap filter runs BEFORE any list
    materializes, and the window buffer (one bucket at a time) spills;
    a pathological million-doc bucket never builds aggregation state —
    the property the old count-first plan was built for, preserved."""
    w = Window.partitionBy(*bucket_cols)
    bounded = entries.withColumn("__bn", F.count(F.lit(1)).over(w)).filter(
        F.col("__bn") <= max_bucket
    )
    ids = F.col("__ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(
                    F.least(x, y).alias("id_a"), F.greatest(x, y).alias("id_b")
                ),
            ),
        )
    )
    return (
        bounded.groupBy(*bucket_cols)
        .agg(F.collect_list(id_col).alias("__ids"))
        .select(F.explode(pair_structs).alias("__p"))
        .select("__p.id_a", "__p.id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 24,
    bands: int = 6,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 50,
    diagnostics: dict | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH, verified with exact
    shingle Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Pass ``diagnostics={}`` to have the call fill it with bucket/pair
    telemetry (band entries, max bucket size, entries dropped by the
    ``max_bucket`` skew cap, the post-cap pair-formation bound, and the
    distinct candidate-pair count). Diagnostics run extra Spark actions —
    use from benches/ops tooling, not inside latency-sensitive paths.

    b=6 bands × r=4 rows ≈ an S-curve threshold of (1/b)^(1/r) ≈ 0.64 —
    candidates above ~0.5 Jaccard are found with high probability (a
    0.8-Jaccard pair is missed with prob (1−0.8⁴)^6 ≈ 2.7%, 0.9 → 0.2%).
    The signature stage is the dominant cost at corpus scale and is linear
    in num_perm: 24 permutations at the same r keeps the verify threshold
    honest while cutting signature cost 25% vs the former b=8×r=4.

    Plan shape (the 100 TB story): explode shingles → ONE md5 per shingle
    (whole-stage codegen) → groupBy(doc) with num_perm cheap min-aggregates
    (map-side combined, so the shuffle carries one num_perm-long row per
    doc) →
    banded bucket join → exact verify on the candidate pairs only.
    """
    df = ensure_parallelism(df)

    # The shingle rows feed three consumers (signatures + both sides of the
    # verify join). Persist the diamond — same reasoning as the reference's
    # `.cache()` before its 4-way staging fan-out; Spark reuses cached
    # partitions even within a single job. Tracked for
    # `release_shingle_caches()` in long-lived sessions.
    #
    # The cache stores (doc_id, h) with h the 63-bit md5-derived hash —
    # the shingle STRING (~25 B) never persists or shuffles; the verify
    # join matches on h (8 B) and the signature stage reduces h mod the
    # Mersenne prime. Distinctness is enforced on shingle STRINGS
    # (array_distinct in `word_shingles`) before hashing, so a within-doc
    # 63-bit collision (≈ n²/2⁶⁴) yields two identical h rows for that
    # doc — duplicate rows, not a merge — counted the same way by the
    # oracle (which hashes identically), keeping |A|, |B|, |A∩B| and the
    # resulting Jaccard consistent across engines.
    sh = _persist_tracked(
        shingle_rows(df, text_col, id_col, shingle_n).select(
            "doc_id", stable_long_hash(F.col("shingle")).alias("h")
        )
    )
    # r14: persist the signatures too — sigs feed the band entries (twice,
    # via the candidate self-join), the bucket-size aggregate above them,
    # and the two size joins of the verify, so the num_perm-min aggregate
    # re-ran per consumer (6 doc_id exchanges in the r13 before-plan;
    # AQE ReusedExchange dedupes the shuffle write but each consumer still
    # re-ran the final aggregate + band explode). One row per doc
    # (num_perm longs) — codebook-scale memory.
    sigs = _persist_tracked(_minhash_sigs(sh, num_perm))
    band_entries = _minhash_band_entries(sigs, num_perm, bands)

    # Skew guard: drop pathological buckets (boilerplate shared by
    # thousands of docs explodes quadratically otherwise). The cap gate
    # + pair formation is the one-shuffle `_bucket_candidate_pairs`
    # (r14); the standalone count aggregate below exists only for the
    # diagnostics telemetry (extra actions, documented).
    if diagnostics is not None:
        bucket_sizes = _persist_tracked(
            band_entries.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n"))
        )
        stats = bucket_sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").alias("n_band_entries"),
            F.max("n").alias("max_bucket_size"),
            F.count(F.when(F.col("n") > max_bucket, F.lit(1))).alias("buckets_over_cap"),
            F.coalesce(
                F.sum(F.when(F.col("n") > max_bucket, F.col("n"))), F.lit(0)
            ).alias("entries_dropped_by_cap"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("n") <= max_bucket,
                        (F.col("n") * (F.col("n") - 1)) / 2,
                    )
                ),
                F.lit(0),
            ).cast("long").alias("pair_formation_bound"),
        ).collect()[0]
        diagnostics.update(
            {k: stats[k] for k in stats.asDict()}, max_bucket_cap=max_bucket
        )
    candidates = _bucket_candidate_pairs(
        band_entries, ["band", "key"], "doc_id", max_bucket
    )
    if diagnostics is not None:
        candidates = _persist_tracked(candidates)
        diagnostics["candidate_pairs"] = candidates.count()

    # Exact-Jaccard verify via sparse intersection counts: candidate pairs
    # (tiny) are broadcast against the hashed shingle rows; |A∩B| comes
    # from a count over matching hashes, |A∪B| = |A|+|B|−|A∩B|. Candidates
    # with an empty intersection have Jaccard 0 and drop out — below any
    # meaningful threshold by construction.
    sizes = sigs.select("doc_id", F.col("n_sh").alias("n"))
    return _verify_candidates(candidates, sh, sizes, threshold)


def minhash_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 24,
    bands: int = 6,
    shingle_n: int = 3,
) -> dict[str, DataFrame]:
    """The persistable LSH index state for a corpus slice — everything
    incremental dedup needs to pair FUTURE documents against this slice
    without ever rescanning its text:

    - ``entries``  (doc_id, band, key)  — LSH bucket membership
    - ``shingles`` (doc_id, h)          — hashed shingle rows for verify
    - ``sizes``    (doc_id, n)          — shingle-set sizes for Jaccard

    At scale each lives as a table: entries clustered by (band, key) so a
    batch's bucket probe prunes to touched buckets, shingles/sizes
    bucketed by doc_id so the verify join co-locates. Building the index
    for a slice costs exactly the signature stage of `minhash_lsh_pairs`
    over that slice."""
    df = ensure_parallelism(df)
    sh = _persist_tracked(
        shingle_rows(df, text_col, id_col, shingle_n).select(
            "doc_id", stable_long_hash(F.col("shingle")).alias("h")
        )
    )
    sigs = _minhash_sigs(sh, num_perm)
    return {
        "entries": _minhash_band_entries(sigs, num_perm, bands),
        "shingles": sh,
        "sizes": sigs.select("doc_id", F.col("n_sh").alias("n")),
    }


def minhash_index_upsert(
    batch: DataFrame,
    index: dict[str, DataFrame] | None,
    text_col: str,
    id_col: str,
    num_perm: int = 24,
    bands: int = 6,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 50,
    batch_index: dict[str, DataFrame] | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """One micro-batch of INCREMENTAL near-duplicate detection — the
    continuous-ingestion form of `minhash_lsh_pairs` (the foreachBatch
    body of a streaming dedup pipeline). Returns ``(pairs, new_index)``:
    every verified pair (id_a, id_b, jaccard) with at least one side in
    the batch, and the index grown by the batch.

    Why this exists: at 100 TB with continuous ingestion, re-running
    corpus-wide LSH per arrival is a full-corpus signature recompute.
    Here the old corpus contributes only its (tiny) index tables — the
    batch computes ITS signatures, probes the bucket table for
    candidates, verifies against stored shingle hashes, and appends.
    Per-batch cost is O(batch + touched buckets), independent of corpus
    age. In production the returned index frames are written per trigger
    (parquet/Delta, like the state versions in test_streaming.py);
    id-disjoint batches are the caller's contract (upstream exact-dedup /
    first-seen gate).

    Pair-emission contract: each pair is emitted exactly once — by the
    batch that completes it. With ``max_bucket`` finite the semantics are
    the STREAMING cap: a pair forms only while its bucket is within cap
    at the completing batch's time (a bucket that outgrows the cap stops
    pairing but keeps its early pairs). With the cap effectively off the
    result over any batch split equals the one-shot batch operator
    exactly (pinned by tests/test_incremental_minhash.py).

    ``batch_index``: pass the batch's own `minhash_index` output (e.g.
    re-read from the parquet you just persisted it to) to skip
    recomputing batch signatures — the production sink persists the
    batch fingerprints ONCE and pairs from the persisted copy."""
    b_index = batch_index or minhash_index(
        batch, text_col, id_col, num_perm, bands, shingle_n
    )
    if index is None:
        old_entries = None
        all_entries = b_index["entries"]
        all_sh = b_index["shingles"]
        all_sizes = b_index["sizes"]
    else:
        old_entries = index["entries"]
        all_entries = old_entries.unionByName(b_index["entries"])
        all_sh = index["shingles"].unionByName(b_index["shingles"])
        all_sizes = index["sizes"].unionByName(b_index["sizes"])

    candidates = _index_candidates(b_index["entries"], old_entries, max_bucket)
    pairs = _verify_candidates(candidates, all_sh, all_sizes, threshold)
    return pairs, {"entries": all_entries, "shingles": all_sh, "sizes": all_sizes}


def _index_candidates(
    b_entries: DataFrame, old_entries: DataFrame | None, max_bucket: int
) -> DataFrame:
    """The pairing step shared by `minhash_index_upsert` and
    `minhash_index_probe`: distinct (id_a < id_b) candidates with ≥1
    batch side, from the batch's LSH entries and the state's entries
    (None when the state is empty). The cap applies to CURRENT
    (post-batch) bucket sizes; only in-cap buckets pair."""
    all_entries = (
        b_entries if old_entries is None else old_entries.unionByName(b_entries)
    )
    ok_buckets = (
        all_entries.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_bucket)
        .select("band", "key")
    )
    new_b = b_entries.join(ok_buckets, ["band", "key"])

    # new⋈new ordered one way plus new⋈old both ways — never old⋈old
    # (those pairs were emitted by earlier batches).
    nb_a, nb_b = new_b.alias("a"), new_b.alias("b")
    cand = nb_a.join(
        nb_b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    if old_entries is not None:
        old_b = old_entries.join(ok_buckets, ["band", "key"])
        o, n = old_b.alias("o"), new_b.alias("n")
        cross = o.join(
            n,
            (F.col("o.band") == F.col("n.band"))
            & (F.col("o.key") == F.col("n.key"))
            # id-disjoint batches are the contract; guard anyway so a
            # violating caller gets no self-pairs rather than corrupt output
            & (F.col("o.doc_id") != F.col("n.doc_id")),
        ).select(
            F.least(F.col("o.doc_id"), F.col("n.doc_id")).alias("id_a"),
            F.greatest(F.col("o.doc_id"), F.col("n.doc_id")).alias("id_b"),
        )
        cand = cand.unionByName(cross)
    return cand.distinct()


def minhash_index_probe(
    b_index: dict[str, DataFrame],
    read_entries,
    read_doc_state,
    threshold: float = 0.5,
    max_bucket: int = 50,
) -> DataFrame:
    """`minhash_index_upsert`'s pairing step against an EXTERNAL state
    store with PRUNED reads — the per-trigger cost model a 100 TB stream
    needs: instead of shuffling the full cumulative index into the probe
    (O(stream history) per trigger), the store is read three ways, each
    bounded by the BATCH:

    - ``read_entries(b_entries)`` → the state's (doc_id, band, key) rows
      for buckets the batch TOUCHES (or None when the state is empty).
      Correctness needs every state entry of each touched bucket and
      nothing else: untouched buckets cannot form a candidate with the
      batch, and their cap counts are never consulted (`new_b` only holds
      batch entries, so over/under-cap status of an untouched bucket is
      unobservable). O(touched buckets), not O(history).
    - ``read_doc_state(old_ids)`` → (shingles, sizes) restricted to the
      given OLD-side candidate doc ids. The verify join only reads
      candidate docs' rows, and `old_ids` is bounded by the post-cap
      pair-formation bound — O(candidates), independent of history.
      Never called when ``read_entries`` returns None: with no state the
      probe emits exactly `minhash_index_upsert(index=None)`'s
      within-batch pairs.

    Pair-emission contract is IDENTICAL to `minhash_index_upsert` with
    the same ``max_bucket`` (streaming-cap semantics; pinned equal —
    including with an ENGAGING cap — in
    tests/test_curation_state.py::test_probe_matches_upsert_pairs): pairs
    with ≥1 batch side, cap on current post-batch bucket sizes. One
    extra driver action collects the old-side candidate ids (bounded as
    above).

    Returns the verified pairs only — the state GROWTH is the caller's
    append of ``b_index`` itself (the store's delta shape)."""
    old_entries = read_entries(b_index["entries"])
    candidates = _persist_tracked(
        _index_candidates(b_index["entries"], old_entries, max_bucket)
    )

    b_sh, b_sizes = b_index["shingles"], b_index["sizes"]
    all_sh, all_sizes = b_sh, b_sizes
    if old_entries is not None:
        # Old-side candidate ids: candidate endpoints minus batch docs —
        # ONE bounded driver collect gates the shingle/size state read.
        batch_ids = b_sizes.select("doc_id")
        old_ids = [
            r["doc_id"]
            for r in candidates.select(
                F.explode(F.array("id_a", "id_b")).alias("doc_id")
            )
            .distinct()
            .join(batch_ids, "doc_id", "left_anti")
            .collect()
        ]
        if old_ids:
            old_sh, old_sizes = read_doc_state(old_ids)
            # (None, None) = the store holds no rows for any touched
            # bucket (possible only if candidates arrived from entries
            # whose shingle state was never written) — verify proceeds
            # batch-only and the cross pairs fail verification naturally.
            if old_sh is not None and old_sizes is not None:
                all_sh = b_sh.unionByName(old_sh)
                all_sizes = b_sizes.unionByName(old_sizes)
    return _verify_candidates(candidates, all_sh, all_sizes, threshold)


def simhash_fingerprints(
    df: DataFrame, text_col: str, id_col: str, num_bits: int = 32
) -> DataFrame:
    """Corpus-scale SimHash fingerprints as (doc_id, fp): explode tokens →
    one codegen'd hash per token → num_bits ±1 bit-sum aggregates with
    map-side combine. Shared by `simhash_pairs` and the recall-quality
    bench's exact-Hamming truth."""
    df = ensure_parallelism(df)
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(normalized_tokens(F.col(text_col))).alias("token"),
    )
    h = toks.withColumn("h", stable_long_hash(F.col("token")))
    # r15 single-parse rendering (guide §7.3 / VERDICT r14 #6): the
    # num_bits ±1 bit-sum aggregates and the packed CASE sum are the same
    # integer expressions the Column chains built (`&` parenthesized —
    # it binds looser than `*` in SQL), parsed in num_bits + 1 JVM calls
    # instead of ~14 py4j round trips per bit. Integer arithmetic, so the
    # fingerprints are value-identical; pinned against the Column form
    # (tests/reference_forms.py) in tests/test_linalg_fastpath.py.
    bitsums = h.groupBy("doc_id").agg(
        *[
            F.expr(f"sum((shiftright(h, {j}) & 1) * 2 - 1) AS b_{j}")
            for j in range(num_bits)
        ]
    )
    packed_sql = " + ".join(
        f"(CASE WHEN b_{j} > 0 THEN CAST({2**j} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(num_bits)
    )
    return bitsums.selectExpr("doc_id", f"{packed_sql} AS fp")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_bits: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
    max_bucket: int = 100,
) -> DataFrame:
    """Near-dup pairs by SimHash: byte-band LSH (a pair within Hamming
    distance < #bands must share ≥1 exact band) then Hamming verify.
    Returns (id_a, id_b, hamming)."""
    n_bands = num_bits // band_bits
    mask = (1 << band_bits) - 1
    fp = simhash_fingerprints(df, text_col, id_col, num_bits)
    bands = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("fp", b * band_bits).bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp", "bk.band", "bk.key")

    # One-shuffle capped pair formation (r14, same move as
    # `_bucket_candidate_pairs` but carrying each side's fingerprint so
    # the Hamming verify happens scan-side inside the pair transform):
    # window cap gate → per-bucket (doc_id, fp) lists → i<j pair explode.
    # Hamming is symmetric, so the least/greatest orientation computes
    # the identical distance; filtering BEFORE the distinct stays
    # result-identical and the dedup shuffle carries only survivors.
    w = Window.partitionBy("band", "key")
    bounded = bands.withColumn("__bn", F.count(F.lit(1)).over(w)).filter(
        F.col("__bn") <= max_bucket
    )
    items = F.col("__items")
    pair_structs = F.flatten(
        F.transform(
            items,
            lambda x, i: F.transform(
                F.slice(items, i + F.lit(2), F.size(items)),
                lambda y: F.struct(
                    F.least(x["doc_id"], y["doc_id"]).alias("id_a"),
                    F.greatest(x["doc_id"], y["doc_id"]).alias("id_b"),
                    F.bit_count(x["fp"].bitwiseXOR(y["fp"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        bounded.groupBy("band", "key")
        .agg(F.collect_list(F.struct("doc_id", "fp")).alias("__items"))
        .select(F.explode(pair_structs).alias("__p"))
        .select("__p.id_a", "__p.id_b", "__p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    shingle_n: int = 3,
    threshold: float = 0.1,
    max_df: int | None = None,
    diagnostics: dict | None = None,
    df_cap_strategy: str = "stoplist",
) -> DataFrame:
    """EXACT n-gram Jaccard for every pair inside a blocking key (e.g.
    (lang, source)) with `jaccard >= threshold > 0`. The oracle-checkable
    ground truth the LSH variants approximate. Returns (id_a, id_b, jaccard).

    Sparse plan: instead of materializing all O(block²) pairs and
    intersecting dense shingle arrays per pair, shingles join shingles on
    (block, shingle) — only co-occurring shingles produce rows — and the
    pair's intersection size is a count. Pairs sharing nothing never
    exist, which is exactly the threshold > 0 contract.

    ``max_df`` is the skew guard that makes this survive web scale: the
    shuffle key is (block, shingle-hash), so one boilerplate shingle
    shared by d documents produces d·(d−1)/2 join rows. With the cap,
    shingles whose document frequency inside their block exceeds
    ``max_df`` are removed from the shingle universe entirely — from the
    intersection AND the doc sizes, keeping Jaccard internally
    consistent. Ubiquitous shingles carry no near-dup signal (that is
    what makes them ubiquitous), so the cap bounds every bucket at
    O(max_df²) pairs at the cost of ignoring boilerplate overlap. Docs
    left with zero shingles drop out.

    The cap is applied as a broadcast STOP-LIST by default (r6,
    ``df_cap_strategy="stoplist"``): one aggregate over the cached
    shingle rows finds the over-cap (block, hash) keys — its output is
    tiny (≤ shingle_rows / max_df keys by pigeonhole) — and a broadcast
    left-anti join removes them. vs the count-window
    (``df_cap_strategy="window"``): the aggregate shuffles pre-reduced
    map-side-combined counts instead of sorting EVERY exploded row
    inside window partitions, and the capped rows never carry a dfreq
    column. The window variant remains the fallback for a corpus so
    boilerplate-ridden that the stop-list itself outgrows broadcast
    range (≳10⁷ over-cap keys) — though at that point the corpus needs
    cleaning more than a bigger hash table. Both strategies drop the
    identical shingle set.

    Pass ``diagnostics={}`` to record cap telemetry (distinct shingle
    keys, max document frequency observed, keys over the cap, shingle
    rows dropped) — extra Spark actions; benches/ops only.

    The shingle STRING never shuffles: each shingle maps once (codegen'd
    md5) to a 63-bit long (`stable_long_hash` — the same engine-portable
    hash minhash uses, mirrored in the oracle by `_stable_hash_sql`), so
    the df-count window and the self-join carry an 8-byte key instead of
    a ~25-byte string. Distinctness per doc is enforced on the shingle
    STRING (array_distinct in `word_shingles`) before hashing, so a
    within-doc 63-bit collision (≈ n²/2⁶⁴) yields duplicate h rows for
    that doc rather than a merge — both engines hash and count them the
    same way, so sizes and intersections stay consistent.
    """
    df = ensure_parallelism(df)
    # Three consumers (both join sides + doc sizes): persist the explode so
    # the interpreted shingling runs once (same diamond as minhash).
    # r14: tokens staged below the shingle transform (see `shingle_rows` —
    # an inlined token subtree re-evaluates per element, O(len²)/doc).
    ex = df.select(
        *block_cols,
        F.col(id_col).alias("doc_id"),
        normalized_tokens(F.col(text_col)).alias("__toks"),
    ).select(
        *block_cols,
        "doc_id",
        F.explode(word_shingles(F.col("__toks"), shingle_n)).alias("shingle"),
    ).select(
        *block_cols, "doc_id", stable_long_hash(F.col("shingle")).alias("h")
    )
    # Persist BEFORE the cap: the stop-list aggregate plus the three
    # downstream consumers all read the cached pre-cap rows; the anti-join
    # itself is a per-row broadcast-hash probe, re-evaluated cheaply per
    # consumer, never a shuffle.
    ex = _persist_tracked(ex)
    if max_df is not None:
        key_counts = ex.groupBy(*block_cols, "h").agg(F.count(F.lit(1)).alias("dfreq"))
        if diagnostics is not None:
            stats = key_counts.agg(
                F.count(F.lit(1)).alias("n_shingle_keys"),
                F.max("dfreq").alias("max_dfreq"),
                F.count(F.when(F.col("dfreq") > max_df, F.lit(1))).alias("keys_over_cap"),
                F.coalesce(
                    F.sum(F.when(F.col("dfreq") > max_df, F.col("dfreq"))), F.lit(0)
                ).alias("rows_dropped_by_cap"),
            ).collect()[0]
            diagnostics.update({k: stats[k] for k in stats.asDict()}, max_df_cap=max_df)
        if df_cap_strategy == "stoplist":
            stop = key_counts.filter(F.col("dfreq") > max_df).select(*block_cols, "h")
            ex = ex.join(F.broadcast(stop), [*block_cols, "h"], "left_anti")
        elif df_cap_strategy == "window":
            from pyspark.sql import Window

            w = Window.partitionBy(*block_cols, "h")
            # r14: persist the CAPPED rows too — the window pass fed all
            # three consumers lazily, so the exchange+sort+count-window
            # re-executed per consumer (4× in the gate's before-plan,
            # plans/r14/dedup_ngram_jaccard_before.txt). One tracked
            # cache build; identical capped row set.
            ex = _persist_tracked(
                ex.withColumn("dfreq", F.count(F.lit(1)).over(w))
                .filter(F.col("dfreq") <= max_df)
                .drop("dfreq")
            )
        else:  # pragma: no cover - caller bug
            raise ValueError(f"unknown df_cap_strategy: {df_cap_strategy!r}")
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))

    a = ex.select(*block_cols, F.col("doc_id").alias("id_a"), "h")
    b = ex.select(*block_cols, F.col("doc_id").alias("id_b"), "h")
    inter = (
        a.join(b, [*block_cols, "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: Telemetry from the most recent `dedup_components` call: which backend
#: ran and how many iteration rounds (== driver-blocking Spark actions in
#: the loop) it took. Tests pin this so the convergence-loop cost can't
#: silently regress; ops dashboards can read it after a run.
LAST_COMPONENTS_INFO: dict = {"backend": None, "rounds": 0}


class ComponentsNotConverged(RuntimeError):
    """Raised when a distributed backend hits ``max_iters`` rounds short
    of its fixed point — label propagation with labels still changing,
    or star contraction with edges still moving. Returning partial labels
    would silently disagree with the transitive closure. Deep
    chained-duplicate graphs should use ``backend="star"`` (O(log n)
    rounds) instead of raising ``max_iters``."""


def dedup_components(
    corpus_ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("id_a", "id_b"),
    max_iters: int = 20,
    backend: str = "auto",
    small_graph_edges: int = 500_000,
    assume_unique_ids: bool = False,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every document gets
    a ``cluster_id`` = the smallest doc id reachable through pairs (its
    canonical representative); documents in no pair form singleton
    clusters. This is the step AFTER pair generation in a dedup pipeline —
    near-dup is transitive in practice (A≈B≈C), so survivors must be
    picked per component, not per pair.

    The iteration runs ONLY over nodes that appear in at least one pair:
    a node with no edges can never change its label, so the corpus-sized
    id set stays out of the loop entirely — each round shuffles a table
    the size of the duplicate-graph node set (a small fraction of a
    deduplicated corpus), and the untouched singletons are attached with
    one anti-join at the end. At 100 TB that is the difference between
    per-round corpus shuffles and per-round near-dup-graph shuffles.

    Backends:

    - ``"auto"`` (default): count the directed pair set once (the same
      action that materializes its cache; edges = 2 × pairs) and pick: at
      most ``small_graph_edges`` edges → ``"driver"``, else ``"label"``. The
      broadcast-join move applied to connected components — the dup GRAPH
      is orders of magnitude smaller than the corpus (only documents with
      a near-duplicate appear), so even a 100 TB corpus usually yields a
      driver-sized graph; the distributed loop is the safety net, not the
      common case.
    - ``"driver"``: collect the edge set and run union-find on the driver
      (exact, deterministic, microseconds for the graphs the threshold
      admits — 500k edge rows ≈ 12 MB of longs); every per-round shuffle
      and blocking action disappears.
    - ``"label"``: min-label propagation — each round every node takes
      the min of its own and its neighbors' labels; O(component diameter)
      hops, TWO hops fused per round (r13: each round's single action —
      a full job launch plus a blocking driver round-trip at scale — now
      advances the frontier twice; labels are monotone non-increasing,
      so 2N fused hops ≡ 2N synchronous rounds and the fixpoint test is
      unchanged). Near-dup components are shallow (duplicates of a
      common original), so this is 1-2 actions in practice. Raises
      :class:`ComponentsNotConverged` if labels are still moving after
      ``max_iters`` rounds — never returns partial (wrong) clusters.
    - ``"star"``: alternating large-star/small-star contraction (Kiveris
      et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
      O(log n) contractions regardless of diameter, two fused per
      round/action (r13, same barrier-halving move); the fallback for
      adversarially deep graphs (chained near-dups).

    All backends converge to the identical fixpoint (min reachable id per
    component). Returns (id_col, cluster_id) — deterministic on any
    layout.
    """
    ia, ib = pair_cols
    # Persist the DIRECTED pair set — `pairs` is usually an expensive lazy
    # plan (the whole LSH pipeline), and every backend re-reads the edges.
    # Persisting pairs (not the symmetrized set) means the auto-route
    # count, the driver collect, and a same-session sibling call (e.g.
    # `dedup_cluster_survivors` right after `dedup_clusters` — Spark's
    # CacheManager matches the canonicalized plan) all traverse the LSH
    # pipeline ONCE and touch half the rows the old explode-first layout
    # materialized.
    directed = _persist_tracked(
        pairs.select(F.col(ia).alias("src"), F.col(ib).alias("dst"))
    )

    if backend == "auto":
        # union-find is direction-blind, so the driver bound counts
        # directed pairs (edges = 2 × pairs).
        backend = "driver" if 2 * directed.count() <= small_graph_edges else "label"
    if backend == "driver":
        linked = _components_driver_union_find(directed)
    else:
        # The distributed iterations need both edge directions; explode
        # emits them in one pass over the (now cached) pair set.
        sym = _persist_tracked(
            directed.select(
                F.explode(
                    F.array(
                        F.struct(F.col("src"), F.col("dst")),
                        F.struct(
                            F.col("dst").alias("src"), F.col("src").alias("dst")
                        ),
                    )
                ).alias("e")
            ).select("e.src", "e.dst")
        )
        if backend == "label":
            linked = _components_label_propagation(sym, max_iters)
        elif backend == "star":
            linked = _components_star_contraction(sym, max_iters)
        else:  # pragma: no cover - caller bug
            raise ValueError(f"unknown components backend: {backend!r}")

    # Singletons (no edges) keep themselves as cluster id; one anti-join,
    # outside the loop. ``assume_unique_ids=True`` (an id column that is
    # already a key — the normal dedup-pipeline case) skips the distinct,
    # which is otherwise a CORPUS-scale shuffle just to dedupe ids.
    all_ids = corpus_ids.select(F.col(id_col).alias("node"))
    if not assume_unique_ids:
        all_ids = all_ids.distinct()
    singletons = all_ids.join(linked, "node", "left_anti").select(
        "node", F.col("node").alias("label")
    )
    return (
        linked.unionByName(singletons)
        .select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))
    )


def _components_driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact union-find over a driver-collected edge set — the small-graph
    fast path ('auto' guarantees the collect is bounded). union(a,b) is
    direction-blind, so the DIRECTED pair set suffices (half the rows of
    the symmetrized set). Returns (node, label) for every node with at
    least one edge."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    # one collect, bounded by small_graph_edges (toLocalIterator would
    # fetch the 32 cached partitions as 32 sequential jobs)
    for row in edges.select("src", "dst").collect():
        a, b = row["src"], row["dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = [(n, find(n)) for n in parent]
    LAST_COMPONENTS_INFO.update(backend="driver", rounds=0)
    spark = edges.sparkSession
    schema = "node long, label long"
    if not labels:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(labels, schema)


def _components_label_propagation(sym: DataFrame, max_iters: int) -> DataFrame:
    """Min-label propagation over the (persisted, symmetric) edge set.
    Returns (node, label) for every node with at least one edge."""
    labels = _persist_tracked(
        sym.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
    )
    round_cache = labels  # the pinned frame backing the current labels
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # TWO propagation hops fused into this round's single action
        # (r13): at scale each round costs a job launch + a blocking
        # driver round-trip for the convergence count, so advancing the
        # frontier twice per barrier halves both. Hop 2 consumes hop 1's
        # labels INSIDE the same plan — labels are monotone
        # non-increasing under min, so 2 fused hops ≡ 2 synchronous
        # rounds, and changed==0 still holds iff the fixpoint is
        # reached (a min-update can never revert).
        proposed = labels.select("node", "label", F.col("label").alias("new_label"))
        for _hop in range(2):
            nbr_min = (
                sym.join(
                    proposed.select(
                        F.col("node").alias("dst"),
                        F.col("new_label").alias("dst_label"),
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("dst_label").alias("nbr_label"))
            )
            proposed = (
                proposed.join(nbr_min, proposed["node"] == nbr_min["src"], "left")
                .select(
                    "node",
                    "label",
                    F.least(
                        F.col("new_label"),
                        F.coalesce(F.col("nbr_label"), F.col("new_label")),
                    ).alias("new_label"),
                )
            )
        # Lazy boundary on `proposed`: the convergence count below
        # materializes it (ONE action per round — the boundary caches
        # the round AND truncates lineage). Without truncation each
        # round's logical plan embeds the previous round's whole tree ~2×,
        # so analysis cost grows 2^rounds — persist() alone does NOT
        # truncate lineage, it only caches execution.
        proposed = stage_boundary(proposed)
        changed = proposed.filter(F.col("new_label") != F.col("label")).count()
        _release(round_cache)
        round_cache = proposed
        labels = proposed.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            converged = True
            break
    # the returned plan reads the final round, which stays registered
    LAST_COMPONENTS_INFO.update(backend="label", rounds=rounds)
    if not converged:
        raise ComponentsNotConverged(
            f"label propagation still moving after {max_iters} rounds "
            "(2 hops each) — component diameter exceeds 2·max_iters; raise "
            "max_iters or use "
            'backend="star" (O(log n) rounds)'
        )
    return labels


def _components_star_contraction(sym: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.,
    SoCC'14). Each iteration rewires every node's larger/smaller neighbors
    to its neighborhood minimum; the edge set converges in O(log n)
    iterations to a forest of stars rooted at each component's minimum.

    Both phases are one groupBy + one join over the current edge set —
    edge-shaped shuffles only, never corpus-shaped. Convergence is
    detected from (count, hash-xor) of the canonical edge set computed in
    the SAME aggregation job — no extra pass; two independently-seeded
    64-bit xor-folds make a false "converged" astronomically unlikely
    (and any true fixed point IS the answer). XOR, not SUM: the edge set
    is distinct, xor is order-independent, and it cannot overflow under
    ANSI mode.
    """

    def large_star(e: DataFrame) -> DataFrame:
        s = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = s.groupBy("src").agg(F.min("dst").alias("mv"))
        m = F.least(F.col("mv"), F.col("src"))
        return (
            s.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        d = e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).filter(F.col("src") != F.col("dst"))
        mins = d.groupBy("src").agg(F.min("dst").alias("mv"))
        rewired = d.join(mins, "src").select(
            F.col("dst").alias("src"), F.col("mv").alias("dst")
        )
        self_edge = mins.select("src", F.col("mv").alias("dst"))
        return (
            rewired.unionByName(self_edge)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def signature(e: DataFrame):
        row = e.select(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.col("src"), F.col("dst"), F.lit(1))).alias("h1"),
            F.bit_xor(F.xxhash64(F.col("src"), F.col("dst"), F.lit(2))).alias("h2"),
        ).collect()[0]
        return (row["n"], row["h1"], row["h2"])

    # Lazy boundary per iteration: one star round references the
    # previous edge set ~12 times, so WITHOUT lineage truncation the
    # logical plan grows 12^rounds and the analyzer, not the data, becomes
    # the bottleneck (persist() caches execution but keeps full lineage).
    # The signature action materializes the boundary — still one job per
    # iteration.
    edges = sym.filter(F.col("src") != F.col("dst"))
    cur = stage_boundary(edges)
    prev_sig = None
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # Two large+small contractions fused per action (r13 — the same
        # barrier-halving move as the label backend): a fixpoint is
        # preserved by re-application, so signature equality between
        # consecutive ACTIONS still detects it exactly.
        nxt = stage_boundary(small_star(large_star(small_star(large_star(cur)))))
        sig = signature(nxt)
        _release(cur)
        cur = nxt
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    LAST_COMPONENTS_INFO.update(backend="star", rounds=rounds)
    if not converged:
        raise ComponentsNotConverged(
            f"star contraction not at fixed point after {max_iters} iterations"
        )
    # Fixed point: every edge is (node, component-min). Roots appear only
    # on the dst side — they label themselves.
    members = cur.groupBy("src").agg(F.min("dst").alias("label")).select(
        F.col("src").alias("node"), "label"
    )
    roots = (
        cur.select(F.col("dst").alias("node"))
        .distinct()
        .join(members.select("node"), "node", "left_anti")
        .withColumn("label", F.col("node"))
    )
    return members.unionByName(roots)


def contamination_check(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 5,
) -> DataFrame:
    """Train/eval contamination detection by n-gram collision (the GPT-3
    style decontamination test): a training document is contaminated if it
    shares at least one word n-gram with any benchmark document. Returns
    (doc_id, n_shared) for contaminated training docs, where n_shared is
    the number of distinct colliding shingles.

    Plan: both sides explode to (doc, shingle) rows; benchmark shingles
    dedupe (benchmarks are small — broadcastable in practice); one equi
    join on the shingle. Shapes like the sparse Jaccard join, so the same
    guards apply at web scale: a document-frequency cap on training-side
    shingles if boilerplate dominates.
    """
    tr = shingle_rows(ensure_parallelism(train), text_col, id_col, shingle_n)
    be = (
        shingle_rows(ensure_parallelism(benchmark), text_col, id_col, shingle_n)
        .select("shingle")
        .distinct()
    )
    return (
        tr.join(be, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(F.col("doc_id").alias(id_col), "n_shared")
    )


def span_window_hashes(tokens: Column, n: int) -> Column:
    """array<long> of POSITIONAL n-token rolling-window hashes: element i
    (0-based) is `stable_long_hash` of the space-joined window starting at
    token i. Unlike `word_shingles` nothing deduplicates — positions are
    the point. Docs shorter than n tokens yield an empty array (same
    `sequence(0, -1)` guard as the shingle builder)."""
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    grams = F.transform(
        idx,
        lambda i: stable_long_hash(
            F.concat_ws(
                " ", *[F.element_at(tokens, (i + j + 1).cast("int")) for j in range(n)]
            )
        ),
    )
    return F.when(F.size(tokens) >= n, grams).otherwise(
        F.array().cast("array<bigint>")
    )


def _span_base(
    docs: DataFrame, text_col: str, id_col: str, n: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [extra…], toks, n_tokens, hs) — the one-projection front of
    every span-dedup form: normalized tokens + positional window hashes."""
    toks = normalized_tokens(F.col(text_col))
    return ensure_parallelism(docs).select(
        F.col(id_col), *[F.col(c) for c in extra_cols], toks.alias("toks")
    ).select(
        id_col,
        *extra_cols,
        "toks",
        F.size("toks").alias("n_tokens"),
        span_window_hashes(F.col("toks"), n).alias("hs"),
    )


def _run_filtered_positions(cov: Column, min_len: int) -> Column:
    """Positions of `cov` (sorted ascending distinct ints) that belong to a
    maximal consecutive run of length ≥ ``min_len`` — the ExactSubstr
    length criterion (only spans ≥ L tokens are real duplication; Lee et
    al. use L=50) applied to the covered-position set. Pure O(k) HOFs:
    run starts are positions whose predecessor is absent, each start pairs
    with the next start to yield its run length, qualifying runs slice
    their positions back out."""
    idxs = F.when(F.size(cov) > 0, F.sequence(F.lit(0), F.size(cov) - 1)).otherwise(
        F.array().cast("array<int>")
    )
    # j is a run start iff j == 0 or cov[j] != cov[j-1] + 1. The when()
    # guards ANSI element_at(cov, 0) from ever evaluating at j == 0.
    starts_idx = F.filter(
        idxs,
        lambda j: F.when(j == 0, F.lit(True)).otherwise(
            F.element_at(cov, j + 1) != F.element_at(cov, j) + 1
        ),
    )
    runs = F.transform(
        starts_idx,
        lambda s, k: F.struct(
            s.alias("st"),
            (
                F.when(
                    k + 1 < F.size(starts_idx), F.element_at(starts_idx, k + 2)
                ).otherwise(F.size(cov))
                - s
            ).alias("ln"),
        ),
    )
    long_runs = F.filter(runs, lambda r: r["ln"] >= F.lit(min_len))
    return F.flatten(
        F.transform(long_runs, lambda r: F.slice(cov, r["st"] + 1, r["ln"]))
    )


def span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 12,
    min_count: int = 2,
    min_span_tokens: int | None = None,
    scope_col: str | None = None,
    cross_scope: bool = False,
) -> DataFrame:
    """Substring-level exact deduplication — detect and scrub token spans
    that appear (near-)verbatim elsewhere in the corpus (the ExactSubstr
    technique of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022 — done here with fixed n-token rolling
    windows instead of suffix arrays, the standard distributed
    relaxation). Doc-level dedup misses this entirely: two distinct
    articles quoting the same boilerplate paragraph are not document
    duplicates, but a model still trains on the paragraph twice.

    A window (n consecutive normalized tokens) is DUPLICATED when its
    hash occurs ≥ ``min_count`` times across the corpus (self-repeats
    included). A token is COVERED when any duplicated window contains
    it. Returns one row per document:

      (id, n_tokens, n_windows, n_dup_windows, dup_tokens, dup_frac,
       text_kept)

    where ``text_kept`` is the normalized token stream with covered
    tokens removed (the scrub output — spans operate on the normalized
    stream, like every fuzzy op here) and ``dup_frac`` =
    dup_tokens / n_tokens.

    Scrub knobs (r8):

    - ``min_span_tokens`` — only scrub (and count in dup_tokens /
      dup_frac / text_kept) covered runs of at least this many
      consecutive tokens — the ExactSubstr length criterion (Lee et al.
      scrub only duplicated substrings ≥ 50 tokens; short incidental
      window collisions are left alone). ``n_dup_windows`` stays the raw
      duplicated-window count so the telemetry is knob-independent.
      ``min_span_tokens <= n`` is a no-op by construction (every covered
      run is ≥ n long).
    - ``scope_col`` — scope duplicate COUNTING by a column (e.g.
      ``source``): with ``cross_scope=False`` a window is duplicated only
      when it repeats ≥ min_count times WITHIN one scope (per-site
      dedup); with ``cross_scope=True`` a window is duplicated when it
      appears in ≥ min_count DISTINCT scopes (shared boilerplate across
      sites — within-site repeats alone don't flag). Plan shape is
      unchanged: the count key widens to (scope, h) or the agg becomes a
      distinct-count; the join-back key stays h(+scope).

    100 TB plan shape — this operator never forms pairs at all:
    1. one projection computes (toks, n_tokens, window-hash array);
    2. posexplode to (id, pos, h) — narrow 20-byte rows;
    3. ONE map-side-combined groupBy(h) count finds duplicated hashes
       (the only corpus-scale shuffle, carrying pre-reduced counts);
    4. duplicated window rows come back via an 8-byte-key equi-join and
       collapse to a per-doc sorted `starts` array (only docs with dups
       survive — typically a small fraction);
    5. a left join puts `starts` beside each doc (AQE broadcasts the
       small side) and ONE higher-order-function projection computes the
       covered-position set (flatten of per-start ranges), the stats,
       and the scrubbed text. No window functions, no token-level
       shuffle, no O(n²) anywhere; cost is linear in corpus tokens.
    """
    extra = (scope_col,) if scope_col else ()
    base = _persist_tracked(
        _span_base(docs, text_col, id_col, n, extra_cols=extra)
    )  # consumed twice: wins + final join

    wins = base.select(
        F.col(id_col), *[F.col(c) for c in extra], F.posexplode("hs").alias("pos", "h")
    )
    if scope_col is None:
        duph = (
            wins.groupBy("h")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= min_count)
            .select("h")
        )
        dup_wins = wins.join(duph, "h")
    elif cross_scope:
        duph = (
            wins.groupBy("h")
            .agg(F.countDistinct(scope_col).alias("n_scopes"))
            .filter(F.col("n_scopes") >= min_count)
            .select("h")
        )
        dup_wins = wins.join(duph, "h")
    else:
        duph = (
            wins.groupBy(scope_col, "h")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") >= min_count)
            .select(scope_col, "h")
        )
        dup_wins = wins.join(duph, [scope_col, "h"])
    starts = (
        dup_wins.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )

    out = base.join(starts, id_col, "left").withColumn(
        "starts", F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    )
    # Exact covered-position set: union of [s, s+n) per duplicated start.
    # Computed as a distinct flatten — set SIZE is the interval-union
    # length (no lag/window needed), and membership drives the scrub.
    cov = F.array_distinct(
        F.flatten(
            F.transform(F.col("starts"), lambda s: F.sequence(s, s + F.lit(n - 1)))
        )
    )
    if min_span_tokens is not None and min_span_tokens > n:
        # cov is ascending by construction (sorted starts → monotone
        # first-occurrence flatten); sort anyway so the run logic never
        # depends on that invariant.
        cov = _run_filtered_positions(F.array_sort(cov), min_span_tokens)
    out = out.withColumn("cov", cov)
    kept = F.filter(
        F.col("toks"), lambda t, i: ~F.array_contains(F.col("cov"), i)
    )
    return out.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.size("hs").alias("n_windows"),
        F.size("starts").alias("n_dup_windows"),
        F.size("cov").alias("dup_tokens"),
        (
            F.size("cov").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
        ).alias("dup_frac"),
        F.concat_ws(" ", kept).alias("text_kept"),
    )


def span_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 12,
) -> dict[str, DataFrame]:
    """Persistable span-dedup index state for a corpus slice — the span
    twin of `minhash_index` / `rp_lsh_index`:

    - ``entries`` (id, pos, h)        — positional window-hash rows
    - ``counts``  (h, cnt)            — corpus occurrence counts
    - ``meta``    (id, n_tokens, n_windows) — per-doc denominators

    At scale: entries clustered by h (a crossing-hash probe prunes to
    touched hashes), meta/entries bucketed by id for the stats join.
    Building the index for a slice costs exactly `span_dedup`'s
    tokenize+hash projection over that slice."""
    base = _persist_tracked(_span_base(docs, text_col, id_col, n))
    return {
        "entries": base.select(F.col(id_col), F.posexplode("hs").alias("pos", "h")),
        "counts": (
            base.select(F.explode("hs").alias("h"))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("cnt"))
        ),
        "meta": base.select(id_col, "n_tokens", F.size("hs").alias("n_windows")),
    }


def span_index_upsert(
    batch: DataFrame,
    index: dict[str, DataFrame] | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 12,
    min_count: int = 2,
    batch_index: dict[str, DataFrame] | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """One micro-batch of INCREMENTAL span-level dedup — the
    continuous-ingestion form of `span_dedup` (a foreachBatch body).
    Returns ``(stats, new_index)``: recomputed span stats for every
    AFFECTED document, and the index grown by the batch. Batches must be
    id-disjoint (the `minhash_index_upsert` contract).

    Span dedup is retroactive by nature: when a batch pushes a window
    hash across ``min_count``, documents from EARLIER batches holding
    that window become partially duplicated too. A doc is re-emitted
    whenever (a) one of its hashes CROSSES the threshold this batch, or
    (b) it arrives in this batch already holding a duplicated hash —
    so each emission supersedes the previous one and the LAST emission
    for a doc equals the one-shot `span_dedup` stats over the full
    corpus (counts only grow; any later crossing of one of its hashes
    would re-emit it). Docs never emitted have zero duplicated windows.
    Pinned for a worst-case id-interleaved split in
    tests/test_incremental_minhash.py.

    Emits (id, n_tokens, n_windows, n_dup_windows, dup_tokens, dup_frac,
    starts) — ``starts`` (sorted duplicated-window positions) lets the
    caller scrub text it holds; the index never stores token text.

    Per-batch cost: batch tokenize+hash + a counts merge + probes keyed
    on the (typically tiny) crossing-hash set — independent of corpus
    age except for the pruned entry probes."""
    b_idx = batch_index if batch_index is not None else span_index(
        batch, text_col, id_col, n
    )
    if index is None:
        old_counts = None
        entries = b_idx["entries"]
        counts = b_idx["counts"]
        meta = b_idx["meta"]
    else:
        old_counts = index["counts"]
        entries = index["entries"].unionByName(b_idx["entries"])
        counts = (
            old_counts.unionByName(b_idx["counts"])
            .groupBy("h")
            .agg(F.sum("cnt").alias("cnt"))
        )
        meta = index["meta"].unionByName(b_idx["meta"])

    dup_now = counts.filter(F.col("cnt") >= min_count).select("h")
    if old_counts is None:
        crossed = dup_now
    else:
        prev_dup = old_counts.filter(F.col("cnt") >= min_count).select("h")
        crossed = dup_now.join(prev_dup, "h", "left_anti")
    affected = (
        entries.join(crossed, "h")
        .select(id_col)
        .unionByName(b_idx["entries"].join(dup_now, "h").select(id_col))
        .distinct()
    )
    starts = (
        entries.join(affected, id_col, "left_semi")
        .join(dup_now, "h")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    cov = F.array_distinct(
        F.flatten(
            F.transform(F.col("starts"), lambda s: F.sequence(s, s + F.lit(n - 1)))
        )
    )
    stats = (
        starts.join(meta, id_col)
        .withColumn("cov", cov)
        .select(
            F.col(id_col),
            "n_tokens",
            "n_windows",
            F.size("starts").alias("n_dup_windows"),
            F.size("cov").alias("dup_tokens"),
            (
                F.size("cov").cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            ).alias("dup_frac"),
            F.col("starts"),
        )
    )
    return stats, {"entries": entries, "counts": counts, "meta": meta}


# ---------------------------------------------------------------------------
# Line-level corpus dedup (CCNet-style)
# ---------------------------------------------------------------------------

#: Occurrence encoding used by the DuckDB ORACLE mirror only: occ =
#: id·2³¹ + pos (identical ordering to the operator's (id, pos) struct
#: min for the gate corpus's 0 ≤ id < 2³¹ integer ids). The Spark
#: operator itself orders a struct, so it works for any id type.
_LINE_OCC_SHIFT = 1 << 31


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    keep: str = "first",
) -> DataFrame:
    """Line/paragraph-level corpus deduplication — the CCNet shard dedup
    (Wenzek et al. 2020 §3.1: hash every paragraph, drop duplicates
    across the whole crawl before any other filtering; boilerplate
    headers/navigation/cookie banners disappear here, not at doc level).
    Sits between `exact_dedup` (whole doc) and `span_dedup` (token
    windows): the unit is a text LINE, and the scrub reassembles each
    document from its surviving lines.

    A line = a '\\n'-separated segment, trimmed; whitespace-only lines
    are dropped up front (same rule as `repetition.repetition_signals`).
    A line is DUPLICATED when its trimmed form occurs ≥ ``min_count``
    times corpus-wide. ``keep``:

    - ``"first"`` (default — the CCNet behavior): every occurrence
      except the first (smallest (id, pos)) is removed;
    - ``"none"``: ALL occurrences of a duplicated line are removed (the
      aggressive variant — boilerplate so common it should not survive
      anywhere).

    Returns one row per document:

      (id, n_lines, n_dup_lines, chars_removed, dup_line_frac, text_kept)

    with ``n_dup_lines`` = lines removed, ``dup_line_frac`` =
    n_dup_lines / max(n_lines, 1) and ``text_kept`` the surviving lines
    re-joined with '\\n' in original order.

    100 TB plan shape (the span_dedup economics, at line granularity):
    one projection builds the per-doc trimmed-line array; posexplode to
    (id, pos, h) narrow rows; ONE map-side-combined groupBy(h) carrying
    (count, min-occurrence) — the only corpus-scale shuffle, and the
    first-occurrence argmin is an aggregate, NOT a window over each
    line's occurrence list (a million-copy boilerplate line would make
    that window partition a straggler); duplicated rows come back via an
    8-byte-key join and collapse to per-doc drop-position arrays; one
    HOF projection scrubs. Works for any orderable id type — "first" is
    the lexicographic (id, pos) minimum.
    """
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    lines = F.filter(
        # single-arg lambda, NOT bare F.trim: trim has an optional second
        # parameter, so transform's arity inspection would pass the array
        # index as the trim-character set (NOTES round-2 pitfall)
        F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"),
            lambda l: F.trim(l),
        ),
        lambda l: l != "",
    )
    base = _persist_tracked(
        docs.select(F.col(id_col), lines.alias("lines"))
    )  # consumed twice: occurrence explode + final scrub join

    occ = base.select(
        F.col(id_col), F.posexplode("lines").alias("pos", "line")
    ).select(
        id_col,
        "pos",
        stable_long_hash(F.col("line")).alias("h"),
        # (id, pos) as a struct: min() over it IS the first occurrence
        # under lexicographic (id, pos) order for ANY orderable id type —
        # the former id·2³¹+pos bigint encoding silently produced NULL for
        # non-numeric ids (non-ANSI string*int → NULL), turning the whole
        # operator into a no-op. The numeric-id oracle mirror keeps the
        # encoding (identical ordering for 0 ≤ id < 2³¹ ids).
        F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p")).alias("occ"),
    )
    duph = (
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("occ").alias("first_occ"))
        .filter(F.col("cnt") >= min_count)
    )
    dropped = occ.join(duph, "h")
    if keep == "first":
        dropped = dropped.filter(F.col("occ") != F.col("first_occ"))
    drops = dropped.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("drops")
    )

    out = base.join(drops, id_col, "left").withColumn(
        "drops", F.coalesce(F.col("drops"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("lines"), lambda l, i: ~F.array_contains(F.col("drops"), i)
    )
    removed_chars = F.aggregate(
        F.col("drops"),
        F.lit(0),
        lambda acc, p: acc + F.length(F.element_at(F.col("lines"), p + 1)),
    )
    return out.select(
        F.col(id_col),
        F.size("lines").alias("n_lines"),
        F.size("drops").alias("n_dup_lines"),
        removed_chars.alias("chars_removed"),
        (
            F.size("drops").cast("double")
            / F.greatest(F.size("lines"), F.lit(1)).cast("double")
        ).alias("dup_line_frac"),
        F.concat_ws("\n", kept).alias("text_kept"),
    )


# ---------------------------------------------------------------------------
# Relational Bloom filter — memory-bounded approximate membership for
# dedup at corpus scale (Bloom 1970; the standard streaming-dedup state
# when the exact key set no longer fits anywhere).
# ---------------------------------------------------------------------------

#: Bits per bitmap word. 32 (not 64) so `1 << (pos % WORD)` stays far from
#: BIGINT sign overflow on BOTH engines (DuckDB range-errors on 1<<63).
_BLOOM_WORD = 32


def _bloom_positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions of a key: independent md5-seeded hashes mod m
    (engine-portable — the oracle mirrors each term with
    `_stable_hash_sql(expr, seed=i)`)."""
    from manifold_spark.functions.hashing import stable_long_hash

    return [stable_long_hash(key, seed=i) % F.lit(m_bits) for i in range(k)]


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Build a Bloom bitmap over a key column as a RELATION: one row per
    set 32-bit word — (word_idx int, bits int-as-long via bit_or). The
    filter is m_bits/32 rows at most, broadcastable by construction, and
    the build is one explode (k rows/key) into a map-side-combined
    `bit_or` aggregate: at 100 TB the shuffle carries at most
    k · min(rows, m/32 per partition) pre-OR'd words, not the key set.

    Compare `DataFrame.stat` / Scala `bloomFilter`: that builds a
    driver-side object; this stays a DataFrame end-to-end, persists as
    parquet beside an incremental index (same pattern as
    `minhash_index` / `span_index`), and unions/merges by re-aggregating
    `bit_or` — the natural multi-shard merge.
    """
    pos = F.explode(F.array(*_bloom_positions(F.col(key_col), m_bits, k)))
    return (
        keys.select(pos.alias("pos"))
        .select(
            F.expr(f"pos DIV {_BLOOM_WORD}").alias("word_idx"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_might_contain(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int = 1 << 20,
    k: int = 5,
    out_col: str = "might_contain",
) -> DataFrame:
    """Probe: adds ``out_col`` (int 0/1) — 1 iff ALL k bits are set (the
    Bloom contract: no false negatives, bounded false positives
    ≈ (1 − e^(−k·n/m))^k). The probe explodes each row to k (row, word)
    lookups against the BROADCAST bitmap and folds with a count(hit)==k
    aggregate — no window, one shuffle keyed by the probe's own id-ish
    key (the key value itself), bitmap never shuffles."""
    pos = F.explode(F.array(*_bloom_positions(F.col(key_col), m_bits, k)))
    probes = df.select(key_col).distinct().select(
        key_col, pos.alias("pos")
    ).select(
        key_col,
        F.expr(f"pos DIV {_BLOOM_WORD}").alias("word_idx"),
        F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))").alias("mask"),
    )
    hits = (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .select(
            key_col,
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask")) != 0)
            .cast("int")
            .alias("hit"),
        )
        .groupBy(key_col)
        .agg((F.sum("hit") == F.lit(k)).cast("int").alias(out_col))
    )
    return df.join(hits, key_col)


def bloom_dedup_flags(
    docs: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """Approximate incremental dedup: flag each doc of ``docs`` whose
    content fingerprint might already be in ``seen`` (same text column).
    Returns (id_col, fp, might_contain int, is_new int). Every true
    duplicate is flagged (no false negatives); a false positive drops a
    NEW doc at the advertised rate — the standard trade when exact state
    (`minhash_index`-style parquet key sets) outgrows its budget."""
    from manifold_spark.functions.hashing import stable_long_hash

    fp = stable_long_hash(F.col(text_col)).cast("string")
    bloom = bloom_build(seen.select(fp.alias("fp")), "fp", m_bits, k)
    flagged = bloom_might_contain(
        docs.select(F.col(id_col), fp.alias("fp")), "fp", bloom, m_bits, k
    )
    return flagged.select(
        id_col,
        "fp",
        "might_contain",
        (1 - F.col("might_contain")).alias("is_new"),
    )


def bloom_index_upsert(
    batch: DataFrame,
    bloom: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 5,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch of Bloom-gated incremental dedup — the
    constant-memory sibling of `minhash_index_upsert` (foreachBatch body
    of a streaming exact-dedup pipeline whose key-set state must stay
    bounded). Returns ``(flags, new_bloom)``:

    - flags: (id_col, fp, might_contain, is_new) for every batch row —
      might_contain=1 means the content fingerprint was (probably) seen
      in ANY earlier batch; within-batch duplicates of the same
      fingerprint are NOT flagged against each other (the caller's
      in-batch exact dedup handles those — same contract as the minhash
      index's id-disjointness).
    - new_bloom: the (word_idx, bits) relation grown by this batch —
      union + bit_or re-aggregation, so state size stays ≤ m/32 rows
      FOREVER regardless of how many batches stream through. In
      production each trigger writes it as the versioned parquet state
      (the test_streaming.py pattern).

    The trade vs the exact index: false positives drop new docs at the
    advertised (1 − e^(−k·n/m))^k rate, so m is sized to the expected
    corpus-lifetime key count; there are no false negatives.
    """
    from manifold_spark.functions.hashing import stable_long_hash

    fp = stable_long_hash(F.col(text_col)).cast("string")
    keyed = batch.select(F.col(id_col), fp.alias("fp"))
    if bloom is None:
        flags = keyed.select(
            id_col,
            "fp",
            F.lit(0).alias("might_contain"),
            F.lit(1).alias("is_new"),
        )
        new_bloom = bloom_build(keyed.select("fp"), "fp", m_bits, k)
        return flags, new_bloom
    flags = bloom_might_contain(keyed, "fp", bloom, m_bits, k).select(
        id_col,
        "fp",
        "might_contain",
        (1 - F.col("might_contain")).alias("is_new"),
    )
    new_bloom = (
        bloom.union(bloom_build(keyed.select("fp"), "fp", m_bits, k))
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    return flags, new_bloom
