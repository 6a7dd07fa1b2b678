"""Recall-quality metrics for the approximate tier (VERDICT r5 ask #2).

The driver's correctness gates prove each approximate operator is
HASH-EXACT against an oracle running the *same* approximation — they say
nothing about how good the approximation is. This module measures that:
recall of the LSH/IVF shortcuts against exact ground truth computed by
brute force.

The truth generators here are intentionally O(n²) (all-pairs) — they are
QUALITY-BENCH tools for sampled/sf-scale corpora, never production paths
(the whole point of the approximate tier is to avoid exactly these
plans). They stay JVM-side (codegen'd crossJoin + bit_count / dot
expressions), so an sf0.1-scale truth set is seconds, not minutes.

Consumed by bench.py's `quality` tier and the floor assertions in
tests/test_recall_floors.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from manifold_spark.operators.linalg import cosine_expr


def exact_hamming_pairs(fp: DataFrame, max_hamming: int) -> DataFrame:
    """ALL pairs within Hamming distance over a (doc_id, fp) fingerprint
    table — the ground truth the byte-band LSH in `simhash_pairs`
    approximates. O(n²) comparisons but each is one XOR+POPCNT in
    whole-stage codegen."""
    a = fp.select(F.col("doc_id").alias("id_a"), F.col("fp").alias("fp_a"))
    b = fp.select(F.col("doc_id").alias("id_b"), F.col("fp").alias("fp_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def exact_cosine_pairs(
    emb: DataFrame,
    dim: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ALL pairs with cosine ≥ threshold — the ground truth both
    `cosine_near_dup` (IVF-blocked) and `rp_lsh_near_dup` (hyperplane
    LSH) approximate."""
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr("va", "vb", dim))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def pair_recall(
    approx: DataFrame,
    truth: DataFrame,
    truth_filter=None,
) -> dict:
    """Fraction of ground-truth pairs the approximate operator found.
    Both inputs carry (id_a, id_b) with id_a < id_b. ``truth_filter``
    optionally restricts the truth set (e.g. jaccard ≥ 0.5) — LSH recall
    is an S-curve, so publish it at several similarity floors."""
    t = truth.filter(truth_filter) if truth_filter is not None else truth
    t = t.select("id_a", "id_b")
    n_truth = t.count()
    if n_truth == 0:
        return {"recall": None, "n_truth": 0, "n_found": 0}
    n_found = t.join(approx.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi").count()
    return {"recall": round(n_found / n_truth, 4), "n_truth": n_truth, "n_found": n_found}


def quality_report(spark, sf_dir: str) -> dict:
    """Every approximate-tier operator measured against exact ground
    truth at one SF dir. Consumed by bench.py's `quality` tier; floor
    assertions live in tests/test_recall_floors.py. Returns
    {metric: {recall, n_truth, n_found}}.

    Recall is published at multiple similarity floors because LSH recall
    is an S-curve: the honest summary is "catches essentially everything
    above the design point, intentionally loses the barely-similar".

    Everything it pins is released when it returns, and nothing else: a
    caller's pins in an enclosing `operator_cache_scope` stay valid."""
    from manifold_spark.operators import (
        DIM,
        IVF_CENTROIDS,
        IVF_NPROBE,
        N_QUERIES,
        TOP_K,
    )
    from manifold_spark.operators import dedup, pq, similarity
    from manifold_spark.plans.boundary import _persist_tracked, operator_cache_scope
    from manifold_spark.queries import _t

    with operator_cache_scope():
        docs = _t(spark, sf_dir, "documents")
        emb = _t(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < N_QUERIES)
        out: dict = {}

        # --- ANN recall@k vs exact brute-force top-k ----------------------
        bf = _persist_tracked(similarity.topk_bruteforce(queries, emb, DIM, k=TOP_K))
        out["ann_ivf@k"] = topk_recall(
            similarity.topk_ivf(
                queries, emb, DIM, k=TOP_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE
            ),
            bf,
        )
        out["ann_ivf_kmeans@k"] = topk_recall(
            similarity.topk_ivf_kmeans(
                queries, emb, DIM, k=TOP_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE
            ),
            bf,
        )
        # PQ-ADC at default rerank budget (R = 32k): how much of the true
        # top-k survives 64×-compressed code scoring + exact re-rank. (Its
        # plumbing is separately pinned BIT-identical to brute force at
        # R ≥ |corpus| by tests/test_pq.py.)
        out["ann_pq@k"] = topk_recall(
            pq.topk_pq(queries, emb, DIM, k=TOP_K),
            bf,
        )
        # IVF-PQ (coarse-pruned lists over the same codes) at the default
        # nprobe=4/16 — the fully composed 100 TB architecture.
        out["ann_ivf_pq@k"] = topk_recall(
            pq.topk_ivf_pq(queries, emb, DIM, k=TOP_K),
            bf,
        )
        # r7: residual encoding (codes quantize v − c(v), codebooks trained
        # on residuals — the FAISS IVFPQ default). Same probe/budget knobs;
        # the finer quantization recovers ADC ranking misses (sf0.1:
        # 0.925 → 1.0 at unchanged nprobe=4).
        out["ann_ivf_pq_residual@k"] = topk_recall(
            pq.topk_ivf_pq(queries, emb, DIM, k=TOP_K, residual=True),
            bf,
        )

        # --- text LSH pair recall vs EXACT n-gram Jaccard -----------------
        truth_j = _persist_tracked(
            dedup.ngram_jaccard_pairs(
                docs.withColumn("blk", F.lit(1)), "text", "doc_id", ["blk"], threshold=0.3
            )
        )
        mh = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3)
        out["minhash_pairs_j>=0.3"] = pair_recall(mh, truth_j)
        out["minhash_pairs_j>=0.5"] = pair_recall(mh, truth_j, F.col("jaccard") >= 0.5)
        out["minhash_pairs_j>=0.7"] = pair_recall(mh, truth_j, F.col("jaccard") >= 0.7)

        # --- simhash banded recall vs EXACT Hamming -----------------------
        fp = _persist_tracked(dedup.simhash_fingerprints(docs, "text", "doc_id"))
        truth_h = _persist_tracked(exact_hamming_pairs(fp, max_hamming=6))
        sh = dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=6)
        out["simhash_pairs_h<=6"] = pair_recall(sh, truth_h)
        out["simhash_pairs_h<=3"] = pair_recall(sh, truth_h, F.col("hamming") <= 3)
        # The default max_bucket=100 cap BINDS on this corpus (32-bit
        # fingerprints crowd: homogeneous synthetic text → ~20% of all pairs
        # sit within Hamming 6, so band buckets blow past any sane cap and
        # capped recall collapses — the price of bounded pair formation,
        # published rather than hidden). The UNCAPPED variant isolates the
        # banding scheme itself: 4 bands × 8 bits ⇒ every pair with h ≤ 3
        # shares ≥1 intact band by pigeonhole, so this recall is exactly 1.0
        # — asserted as a hard floor in tests.
        sh_uncapped = dedup.simhash_pairs(
            docs, "text", "doc_id", max_hamming=3, max_bucket=1 << 30
        )
        out["simhash_uncapped_h<=3"] = pair_recall(
            sh_uncapped, truth_h, F.col("hamming") <= 3
        )

        # --- embedding near-dup recall vs EXACT all-pairs cosine ----------
        truth_c = _persist_tracked(exact_cosine_pairs(emb, DIM, threshold=0.2))
        rp = _persist_tracked(similarity.rp_lsh_near_dup(emb, DIM, threshold=0.2))
        # RP-LSH recall at cosine 0.2 is LOW by design (P(band) = (1−θ/π)⁸ ≈
        # 1% near the threshold — its S-curve design point is the high-cosine
        # near-dup regime, which this synthetic corpus barely contains) but
        # its PRECISION is exactly 1.0: every emitted pair passed the exact
        # cosine verify, so it must be a subset of the truth set — asserted
        # as a hard floor in tests.
        out["rp_lsh_pairs_c>=0.2"] = pair_recall(rp, truth_c)
        out["rp_lsh_precision"] = pair_precision(rp, truth_c)
        out["ivf_near_dup_c>=0.2"] = pair_recall(
            similarity.cosine_near_dup(emb, DIM, threshold=0.2), truth_c
        )
        return out


def pair_precision(approx: DataFrame, truth: DataFrame) -> dict:
    """Fraction of emitted pairs that are true pairs — the dual of
    `pair_recall`; 1.0 whenever the operator ends in an exact verify at
    the same threshold the truth set uses."""
    a = approx.select("id_a", "id_b")
    n_approx = a.count()
    if n_approx == 0:
        return {"precision": None, "n_approx": 0, "n_true": 0}
    n_true = a.join(truth.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi").count()
    return {
        "precision": round(n_true / n_approx, 4),
        "n_approx": n_approx,
        "n_true": n_true,
    }


def topk_recall(approx: DataFrame, truth: DataFrame) -> dict:
    """recall@k for ANN results vs brute-force top-k: fraction of
    (query_id, neighbor_id) truth edges present in the approximate
    result. Both inputs are (query_id, neighbor_id, rank, ...)."""
    t = truth.select("query_id", "neighbor_id")
    n_truth = t.count()
    if n_truth == 0:
        return {"recall": None, "n_truth": 0, "n_found": 0}
    n_found = t.join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    ).count()
    return {"recall": round(n_found / n_truth, 4), "n_truth": n_truth, "n_found": n_found}
