"""Similarity search over embedding columns (`array<float>`).

- `topk_bruteforce`  exact cosine top-k: broadcast the query set against
  the corpus, score with a codegen'd dot-product expression
  (`linalg.dot_expr`), rank per query. The exact baseline.
- `topk_ivf`         IVF-style ANN: a coarse quantizer (deterministic
  centroid subset) partitions the corpus into inverted lists; queries
  probe the `nprobe` nearest lists only. The scale path: scoring cost
  drops by ~n_centroids/nprobe, and the corpus assignment is a one-off
  broadcast join materialized alongside the vectors.
- `cosine_near_dup`  embedding near-duplicate pairs above a cosine
  threshold, IVF-bucketed so it never goes O(n²).

Scale design: queries are broadcast (a query batch is small by
definition); the corpus is never shuffled for brute force. For IVF the
corpus shuffles ONCE by centroid id — at 100 TB you'd persist that
partitioned layout and every search after is a partition-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from manifold_spark.operators.linalg import (
    cosine_expr,
    dot_expr,
    lit_double_array,
    norm_expr,
)
from manifold_spark.plans.parallelism import ensure_parallelism

#: Literal-codebook budget for the scan-side centroid assignment
#: (r14 optimization): total doubles (n_centroids × dim) the codebook
#: may contribute to the plan as ONE constant-folded nested literal
#: (the pq.py `adc_probe_tables` idiom). 2^20 doubles ≈ 8 MB of plan
#: payload — far above any quantizer this engine trains (16×64 at the
#: gates; low thousands × high hundreds in production IVF), far below
#: anything that would strain the driver. Beyond it the join+aggregate
#: path below takes over, so the budget is scale-adaptive, not a
#: local-mode constant.
ASSIGN_LITERAL_MAX_ELEMENTS = 1 << 20


def topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k. Returns (query_id, neighbor_id, rank, cosine);
    self-matches excluded; ties broken by neighbor id.

    r14 (guide §1.2 per-task work): each side's norm is projected ONCE
    per row before the pair fan-out instead of re-deriving both inside
    every pair's `cosine_expr` — per pair the former 3 dot products drop
    to 1 dot + 1 multiply + 1 divide. `sqrt(dot(a,a))` is the identical
    expression either way, so the reassembled cosine is bit-identical
    IEEE arithmetic (the same doubles multiplied/divided in the same
    order) — gate hashes unchanged."""
    q = broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm_expr(vec_col, dim).alias("q_norm"),
        )
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_expr(vec_col, dim).alias("c_norm"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine_from_norms("q_vec", "c_vec", "q_norm", "c_norm", dim))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _cosine_from_norms(
    a: str, b: str, a_norm: str, b_norm: str, dim: int
) -> Column:
    """`cosine_expr` with the two norms supplied as precomputed columns:
    denom = a_norm·b_norm is the same double product `cosine_expr` forms
    from its inline sqrts, the >0 guard compares the identical value,
    and the division is the identical IEEE op — bit-identical results,
    one dot product per pair instead of three."""
    denom = F.col(a_norm) * F.col(b_norm)
    return F.when(denom > 0, dot_expr(a, b, dim) / denom).otherwise(F.lit(0.0))


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rank_limit: int = 1,
    out_prefix: str = "",
) -> DataFrame:
    """Assign each vector to its `rank_limit` nearest centroids by dot
    product (vectors here are same-scale, so dot ≈ cosine ranking; using
    dot keeps the quantizer cheap).

    r14 (optimization round, guide §2.4 "remove shuffles outright"):
    the default path is now SCAN-SIDE — the codebook-scale centroid
    relation is collected to the driver (bounded by
    ``ASSIGN_LITERAL_MAX_ELEMENTS``; the kmeans/pq codebook-collect
    precedent, never data-sized) and enters the plan as ONE
    constant-folded nested literal; per-centroid dots are the
    `pq._fold_dot` higher-order fold, bit-identical to the former
    `dot_expr` chain (same left association, same first-product seed),
    and the argmax/top-k happens per row with zero exchange. Every IVF
    operator's corpus side loses its full-corpus shuffle (the former
    crossJoin ×n_centroids → groupBy plan); result rows, values and
    tie-breaks are unchanged (same (dot desc, centroid_id asc) order).

    Contract (unchanged from the aggregate path): ``id_col`` is a key of
    ``corpus``; centroid ids are numeric (both paths negate them for the
    tie-break). Codebooks past the literal budget take the previous
    broadcast-join + map-side-combined aggregate path
    (`_assign_centroids_agg`) — the knob is scale-adaptive: at a corpus
    size where the literal would strain the plan, the one-row-per-vector
    shuffle it replaces is the lesser cost.
    """
    cb = _collect_codebook(centroids, dim, id_col, vec_col)
    return _assign_with_cb(
        corpus, cb, centroids, dim, id_col, vec_col, rank_limit, out_prefix
    )


def _assign_with_cb(
    corpus: DataFrame,
    cb: list[tuple] | None,
    centroids: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    rank_limit: int = 1,
    out_prefix: str = "",
) -> DataFrame:
    """`assign_centroids` over an ALREADY-COLLECTED codebook (r14
    round-close): callers that assign several frames against the same
    quantizer (`topk_ivf`: inverted lists + query probes) collect the
    codebook ONCE and share it — each `_collect_codebook` is a Spark job
    whose fixed cost dominates at serving batch sizes. ``cb=None`` means
    the codebook exceeded the literal budget → the join+aggregate
    fallback, exactly as in `assign_centroids`."""
    if cb is None:
        out = _assign_centroids_agg(
            corpus, centroids, dim, id_col, vec_col, rank_limit
        )
    else:
        out = _assign_centroids_scan(
            corpus, cb, dim, id_col, vec_col, rank_limit,
            centroids.schema[id_col].dataType.simpleString(),
        )
    if out_prefix:
        out = out.withColumnRenamed("centroid_id", f"{out_prefix}centroid_id")
    return out


def _collect_codebook(
    centroids: DataFrame, dim: int, id_col: str, vec_col: str
) -> list[tuple] | None:
    """Collect the (id, vector) codebook rows for the scan-side literal
    path, or None when the relation exceeds the literal budget (→ the
    caller falls back to the join+aggregate plan). The take() is bounded
    by the budget — never a data-sized collect."""
    max_rows = max(ASSIGN_LITERAL_MAX_ELEMENTS // max(dim, 1), 1)
    rows = centroids.select(id_col, vec_col).take(max_rows + 1)
    if len(rows) > max_rows:
        return None
    return [(r[0], r[1]) for r in rows]


def _assign_centroids_scan(
    corpus: DataFrame,
    cb: list[tuple],
    dim: int,
    id_col: str,
    vec_col: str,
    rank_limit: int,
    cid_type: str,
) -> DataFrame:
    """Zero-shuffle centroid assignment over a driver-collected codebook:
    nested-literal codebook + `_fold_dot` per centroid (transform), then
    per-row array_max (rank 1) or array_sort+slice+explode (rank k) —
    the exact argmax/ranking semantics of `_assign_centroids_agg`."""
    from manifold_spark.operators.pq import _fold_dot

    corpus = ensure_parallelism(corpus)
    other = [col for col in corpus.columns if col != id_col]
    if not cb:
        # agg path with an empty centroid relation yields an empty frame
        # (the crossJoin produces no rows); mirror that exactly.
        return (
            corpus.filter(F.lit(False))
            .select(id_col, *other)
            .withColumn("centroid_id", F.lit(None).cast(cid_type))
        )
    # ONE nested literal (constant-folded by Catalyst) + a parallel id
    # array — the plan carries two Literal values, never a per-term
    # expression tree (janino's method limit stays out of play at any
    # codebook size under the budget).
    cb_lit = lit_double_array([[float(v) for v in vec] for _, vec in cb])
    ids_lit = F.array(*[F.lit(cid).cast(cid_type) for cid, _ in cb])
    vec_sl = F.slice(F.col(vec_col), 1, dim)
    dots = F.transform(cb_lit, lambda cent: _fold_dot(vec_sl, cent))
    if rank_limit == 1:
        # max over struct(cdist, −id, id) ≡ max_by(id, struct(cdist, −id)):
        # same lexicographic ordering, same (dot desc, id asc) tie-break.
        best = F.array_max(
            F.zip_with(
                dots,
                ids_lit,
                lambda d, i: F.struct(
                    d.alias("cdist"), (-i).alias("neg"), i.alias("centroid_id")
                ),
            )
        )
        return corpus.select(
            id_col, *other, best.getField("centroid_id").alias("centroid_id")
        )
    top = F.slice(
        F.array_sort(
            F.zip_with(
                dots,
                ids_lit,
                lambda d, i: F.struct((-d).alias("neg"), i.alias("centroid_id")),
            )
        ),
        1,
        rank_limit,
    )
    return corpus.select(
        id_col, *other, F.explode(top.getField("centroid_id")).alias("centroid_id")
    )


def _assign_centroids_agg(
    corpus: DataFrame,
    centroids: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    rank_limit: int,
) -> DataFrame:
    """The pre-r14 broadcast-join + aggregate assignment — kept as the
    fallback for codebooks past the literal budget. Centroids are
    broadcast; no sort-window anywhere (a window would shuffle all
    n_centroids scored copies of every row):

    - ``rank_limit=1``: `max_by` over `struct(cdist, −centroid_id)` —
      argmax with the (highest dot, then smallest centroid id)
      tie-break, partially aggregated map-side, so the shuffle carries
      ONE pre-reduced row per vector.
    - ``rank_limit=k``: collect the (−cdist, centroid_id) structs,
      `array_sort` + `slice` the top k scan-side, posexplode — the
      shuffle carries one row per vector whose list state is k·12-byte
      structs, not k copies of the vector.
    """
    c = broadcast(
        centroids.select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cent_vec")
        )
    )
    scored = ensure_parallelism(corpus).crossJoin(c).withColumn(
        "cdist", dot_expr(vec_col, "cent_vec", dim)
    )
    other = [col for col in corpus.columns if col != id_col]
    # any_value for carried-through columns: every row in an id_col group
    # is an identical copy produced by the crossJoin fan-out (id_col is a
    # key of `corpus`), so ANY value is THE value — any_value states that
    # invariant explicitly instead of leaning on first()'s accidental
    # determinism under a plan change or duplicate caller ids.
    if rank_limit == 1:
        return scored.groupBy(id_col).agg(
            *[F.any_value(col).alias(col) for col in other],
            F.max_by(
                F.col("centroid_id"),
                F.struct(F.col("cdist"), (-F.col("centroid_id")).alias("neg_id")),
            ).alias("centroid_id"),
        )
    ranked = scored.groupBy(id_col).agg(
        *[F.any_value(col).alias(col) for col in other],
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("cdist")).alias("neg"),
                        F.col("centroid_id"),
                    )
                )
            ),
            1,
            rank_limit,
        ).alias("__top"),
    )
    return ranked.select(
        id_col, *other, F.explode(F.col("__top").getField("centroid_id")).alias("centroid_id")
    )


def topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    lists: DataFrame | None = None,
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF ANN: default centroids are the first `n_centroids` corpus
    vectors by id (deterministic, oracle-reproducible); pass `centroids`
    (id_col, vec_col) to use a trained quantizer — same plan either way.
    Each corpus vector lands in 1 inverted list; each query probes its
    `nprobe` nearest lists and scores only those.

    ``lists`` accepts a pre-materialized `assign_centroids(corpus, …)`
    output (id_col, vec_col, centroid_id) — the production steady state:
    assign the corpus to its inverted lists ONCE (persist/range-cluster on
    centroid_id), then each query batch pays only probe + scoring. It
    REQUIRES the explicit ``centroids`` that built it (same contract as
    `pq.topk_pq(encoded=…)`): re-deriving the quantizer here could
    silently disagree with the persisted list assignment.
    Returns (query_id, neighbor_id, rank, cosine) — approximate."""
    if lists is not None and centroids is None:
        raise ValueError(
            "lists requires the explicit centroids that built it — "
            "re-deriving the quantizer would silently mismatch the assignment"
        )
    if centroids is None:
        centroids = corpus.orderBy(id_col).limit(n_centroids)
    # r14 round-close: ONE codebook collect shared by the corpus-list and
    # query-probe assignments (each collect is a Spark job; the phase
    # profile showed sim_ann_ivf spending 2-4 s in build, half of it the
    # duplicated collect+plan).
    cb = _collect_codebook(centroids, dim, id_col, vec_col)
    if lists is None:
        lists = _assign_with_cb(corpus, cb, centroids, dim, id_col, vec_col)
    probes = _assign_with_cb(
        queries, cb, centroids, dim, id_col, vec_col, rank_limit=nprobe
    )

    # broadcast_queries=False is the corpus-scale-query shape (e.g. a
    # store-backed near-dup sweep where the query frame is itself a
    # corpus): both sides shuffle-join on the probed cell id instead of
    # replicating the whole query batch to every task. Serving-scale
    # batches keep the broadcast — the cells side never shuffles at all.
    q = probes.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_expr(vec_col, dim).alias("q_norm"),
        "centroid_id",
    )
    if broadcast_queries:
        q = broadcast(q)
    c = lists.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_expr(vec_col, dim).alias("c_norm"),
        "centroid_id",
    )
    scored = (
        q.join(c, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", _cosine_from_norms("q_vec", "c_vec", "q_norm", "c_norm", dim)
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def cosine_near_dup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold), blocked by the
    IVF quantizer: each vector is assigned to its 2 nearest lists so pairs
    straddling one boundary are still compared; pairs then form within a
    list only. Returns (id_a, id_b, cosine)."""
    centroids = corpus.orderBy(id_col).limit(n_centroids)
    assigned = assign_centroids(corpus, centroids, dim, id_col, vec_col, rank_limit=2)
    # norms once per (vector, list) row, not once per candidate pair
    # (r14 — same bit-identical reassembly as `_cosine_from_norms`).
    a = assigned.select(
        F.col("centroid_id"), F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"), norm_expr(vec_col, dim).alias("norm_a"),
    ).alias("a")
    b = assigned.select(
        F.col("centroid_id"), F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"), norm_expr(vec_col, dim).alias("norm_b"),
    ).alias("b")
    return (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select(
            "id_a", "id_b",
            _cosine_from_norms("vec_a", "vec_b", "norm_a", "norm_b", dim).alias("cosine"),
        )
        # Cosine is deterministic per pair, so filtering BEFORE the
        # distinct is result-identical; the dedup shuffle then carries
        # only pairs above the threshold (at production thresholds like
        # 0.95 that's a large cut of the rank-2 candidate set).
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def kmeans_centroids(
    corpus: DataFrame,
    dim: int,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    sample_seed: int = 0,
) -> DataFrame:
    """Deterministic Lloyd refinement of the IVF quantizer: init from the
    first k vectors by id, then `iters` rounds of assign → per-dimension
    exact-mean recompute. Everything is DataFrame ops: assignment is the
    broadcast scorer from `assign_centroids`; means use the engine's
    order-independent decimal sums, so centroids are identical across
    partitionings and reruns.

    ``sample_fraction`` trains Lloyd on a deterministic hash-sample of the
    corpus (``hash_sample`` on ``id_col`` — layout/engine-independent, so
    sampled centroids are still bit-reproducible). This is standard IVF
    practice at scale: centroid quality needs ~k·10³ training vectors, not
    the corpus, so at 100 TB you train on a ~0.1% sample and pay the
    broadcast-assign passes on ~GBs. None/1.0 = full-corpus training (the
    oracle path — the generated SQL mirror unrolls the full-corpus Lloyd
    rounds).

    Returns (centroid_id, cent_vec array<double>). Cost per iteration:
    one broadcast pass over the training set + one groupBy of k·dim cells.
    """
    from manifold_spark.functions.numeric import decimal_avg

    train = corpus
    if sample_fraction is not None and sample_fraction < 1.0:
        from manifold_spark.operators.sampling import hash_sample

        train = hash_sample(corpus, id_col, sample_fraction, seed=sample_seed)

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    cid_type = train.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("centroid_id", cid_type, True),
            StructField("cent_vec", ArrayType(DoubleType(), True), True),
        ]
    )

    # r14 round-close: the codebook lives as DRIVER ROWS across rounds
    # (the `pq_codebooks` shape) — the former loop round-tripped the
    # k-row relation through createDataFrame each round, so every round
    # paid a codebook-collect job (assign_centroids' take) ON TOP of the
    # means job, and the caller's collect made one more. Now: one seed
    # collect, then exactly ONE Spark job per Lloyd round (the means
    # aggregate collect, ≤ k·dim rows). Assignment is the same scan-side
    # literal argmax; means assembly sorts by pos in Python — the exact
    # values array_sort(collect_list(struct(pos, mean))) produced
    # (doubles survive collect bit-identically). A codebook past the
    # literal budget falls back to the pre-r14 DataFrame loop.
    max_rows = max(ASSIGN_LITERAL_MAX_ELEMENTS // max(dim, 1), 1)
    if k > max_rows:
        cent = train.orderBy(id_col).limit(k).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cent_vec")
        )
        for _ in range(iters):
            cent_as_corpus = cent.select(
                F.col("centroid_id").alias(id_col), F.col("cent_vec").alias(vec_col)
            )
            assigned = assign_centroids(
                train, cent_as_corpus, dim, id_col=id_col, vec_col=vec_col
            )
            cells = assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
            )
            means = cells.groupBy("centroid_id", "pos").agg(
                decimal_avg(F.col("val"), scale=8).alias("mean")
            )
            cent = means.groupBy("centroid_id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                    lambda s: s["mean"],
                ).alias("cent_vec")
            )
            cent = train.sparkSession.createDataFrame(cent.collect(), cent.schema)
        return cent

    seed = train.orderBy(id_col).limit(k).select(id_col, vec_col).collect()
    cb = [(r[0], [float(v) for v in r[1]]) for r in seed]
    cid_sql_type = cid_type.simpleString()
    for _ in range(iters):
        assigned = _assign_centroids_scan(
            train, cb, dim, id_col, vec_col, 1, cid_sql_type
        )
        cells = assigned.select(
            "centroid_id", F.posexplode(F.col(vec_col)).alias("pos", "val")
        )
        means = cells.groupBy("centroid_id", "pos").agg(
            decimal_avg(F.col("val"), scale=8).alias("mean")
        )
        by_cid: dict = {}
        for row in means.collect():  # bounded: ≤ k·dim rows
            by_cid.setdefault(row["centroid_id"], []).append(
                (row["pos"], float(row["mean"]))
            )
        # Exactly the old per-round relation: one row per cell WITH
        # members (an emptied cell drops out, shrinking the codebook —
        # the documented semantics), vectors ordered by pos.
        cb = [
            (cid, [m for _, m in sorted(by_cid[cid])])
            for cid in sorted(by_cid)
        ]
    return train.sparkSession.createDataFrame(
        [(cid, vec) for cid, vec in cb], out_schema
    )


def topk_ivf_kmeans(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF ANN over Lloyd-refined centroids — same plan as `topk_ivf`
    with a better quantizer (tighter inverted lists → higher recall at
    equal nprobe). ``sample_fraction`` trains the quantizer on a
    deterministic hash-sample (the 100 TB path); search still covers the
    full corpus."""
    cent = kmeans_centroids(
        corpus, dim, n_centroids, iters, id_col, vec_col,
        sample_fraction=sample_fraction,
    )
    cent_as_vecs = cent.select(
        F.col("centroid_id").alias(id_col), F.col("cent_vec").alias(vec_col)
    )
    return topk_ivf(
        queries, corpus, dim, k=k, n_centroids=n_centroids, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, centroids=cent_as_vecs,
    )


#: Fixed-point scale for hyperplane projections: products are quantized
#: to 1e-6 before summation so bit signs are exact integer comparisons —
#: order-independent AND engine-exact (a raw double Σ would depend on
#: Spark's partition-order float addition and could flip a near-zero sign
#: vs the oracle).
_RP_SCALE = 1_000_000.0


def rp_hyperplanes(num_bits: int, dim: int, seed: int = 11) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane coefficients in [-1, 1),
    derived from md5 (no RNG state — reproducible on any engine; the
    oracle embeds the identical literals). Uniform rather than Gaussian
    coordinates: for sign-of-dot-product LSH the collision-probability
    monotonicity only needs symmetric coordinates, and uniform keeps the
    literals short."""
    import hashlib

    planes = []
    for j in range(num_bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"rp-{seed}-{j}-{d}".encode()).hexdigest()
            row.append(round((int(h[:12], 16) / float(1 << 48)) * 2.0 - 1.0, 9))
        planes.append(row)
    return planes


def _rp_packed_expr(planes, dim: int, num_bits: int) -> Column:
    """Single-parse packed RP fingerprint over a staged ``__vec`` column
    (r15, guide §7.3 / VERDICT r14 #6): the whole num_bits × dim
    fixed-point projection tree is rendered as SQL text and parsed in ONE
    `F.expr` call instead of ~num_bits·dim py4j Column calls. The
    PySpark-generated lambda-variable names differ from the parser's, so
    analyzed-tree identity cannot be pinned; the pin is VALUE-level
    (exact integer fingerprint equality vs the per-bit Column-chain form
    in tests/test_linalg_fastpath.py on a fixed corpus — every arithmetic
    step is the same per-term double multiply chain followed by
    floor-quantized integer adds, so the values are bit-identical by
    construction)."""
    from manifold_spark.operators.linalg import _doubles_array_sql, double_sql

    scale = double_sql(_RP_SCALE)
    bits = []
    for j in range(num_bits):
        coefs = _doubles_array_sql([float(planes[j][d]) for d in range(dim)])
        bitsum = (
            f"aggregate(transform(__vec, (x, i) -> "
            f"CAST(FLOOR(CAST(x AS DOUBLE) * element_at({coefs}, "
            f"CAST(i + 1 AS INT)) * {scale} + 0.5D) AS BIGINT)), "
            f"CAST(0 AS BIGINT), (acc, t) -> acc + t)"
        )
        bits.append(
            f"(CASE WHEN {bitsum} > 0 THEN CAST({1 << j} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr(" + ".join(bits))


def _rp_band_entries(
    corpus: DataFrame,
    dim: int,
    num_bits: int,
    band_bits: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(vid, band, key) hyperplane-LSH bucket entries, computed SCAN-SIDE
    (r14, guide §2.4): the hyperplane coefficients are module-level
    deterministic constants, so each bit's fixed-point projection sum is
    a per-row integer fold over the vector against a literal coefficient
    array — zero shuffle (the former posexplode → dim-row broadcast join
    → groupBy(vid) shuffled n·dim rows to reassemble what one projection
    computes). The per-bit sums are exact integer adds of the same
    floor-quantized terms, so they are order-independent and the packed
    fingerprint is value-identical to the aggregate form — every
    downstream band/bucket/verify row (and the oracle mirror) is
    unchanged. Shared by `rp_lsh_near_dup` and the incremental
    embedding index."""
    n_bands = num_bits // band_bits
    mask = (1 << band_bits) - 1
    planes = rp_hyperplanes(num_bits, dim)

    # slice to dim + transform over the PRESENT elements only: replicates
    # the aggregate form exactly — a vector longer than dim contributed
    # only its first dim terms (the pos join had no row past dim), a
    # shorter one only its present terms, and an empty/NULL vector
    # produced no group at all (hence the size filter).
    vec_d = F.slice(F.col(vec_col), 1, dim)
    staged = (
        ensure_parallelism(corpus)
        .filter(F.size(F.col(vec_col)) > 0)
        .select(F.col(id_col).alias("vid"), vec_d.alias("__vec"))
    )

    fp = staged.select("vid", _rp_packed_expr(planes, dim, num_bits).alias("fp"))

    return fp.select(
        "vid",
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
    ).select("vid", "bk.band", "bk.key")


def rp_lsh_near_dup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.2,
    num_bits: int = 24,
    band_bits: int = 8,
    max_bucket: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    diagnostics: dict | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs by random-hyperplane LSH (SimHash
    for cosine; Charikar STOC'02): bit j of a vector's fingerprint is the
    sign of its projection onto hyperplane j, so P(bit match) = 1 − θ/π —
    banded fingerprints bucket high-cosine pairs together without any
    corpus-sized pairwise work. Candidates sharing ≥1 exact band verify
    with the exact cosine and filter at ``threshold``. Returns
    (id_a, id_b, cosine), a subset of the exact ≥-threshold pair set
    (LSH recall < 1 by design; the IVF-blocked `cosine_near_dup` is the
    high-recall sibling).

    100 TB plan shape: posexplode the vectors once → broadcast-join the
    64-row hyperplane table → ONE groupBy(vec) with num_bits map-side-
    combined integer sums (the shuffle carries one num_bits-long row per
    vector, exactly the minhash signature layout) → byte-band buckets
    with the same ``max_bucket`` skew cap as every LSH here → verify on
    candidates only. The fingerprint costs num_bits·dim multiply-adds
    per vector ONCE and is the thing you'd persist next to the corpus.

    ``diagnostics``: when a dict is passed, cap telemetry is computed
    with extra Spark actions and two intermediates (bucket sizes,
    candidate pairs) are persisted through the SHARED operator-cache
    registry — the caller must call `dedup.release_shingle_caches()`
    afterwards to free executor memory (the bench tiers and tests do;
    a long-lived session that skips it leaks the two cached frames).
    Leave as None (the default) for production runs: no extra actions,
    nothing persisted.
    """
    bands = _rp_band_entries(corpus, dim, num_bits, band_bits, id_col, vec_col)
    if diagnostics is not None:
        # Same cap telemetry contract as dedup.minhash_lsh_pairs — extra
        # Spark actions, bench/ops tooling only (the production path
        # never aggregates standalone bucket sizes; the cap gate lives
        # inside `_bucket_candidate_pairs`, r14).
        from manifold_spark.operators.dedup import _persist_tracked

        sizes = _persist_tracked(
            bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n"))
        )
        stats = sizes.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("n").alias("n_band_entries"),
            F.max("n").alias("max_bucket_size"),
            F.count(F.when(F.col("n") > max_bucket, F.lit(1))).alias(
                "buckets_over_cap"
            ),
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
    from manifold_spark.operators.dedup import _bucket_candidate_pairs

    candidates = _bucket_candidate_pairs(bands, ["band", "key"], "vid", max_bucket)
    if diagnostics is not None:
        from manifold_spark.operators.dedup import _persist_tracked

        candidates = _persist_tracked(candidates)
        diagnostics["candidate_pairs"] = candidates.count()

    va = corpus.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"),
        norm_expr(vec_col, dim).alias("norm_a"),
    )
    vb = corpus.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
        norm_expr(vec_col, dim).alias("norm_b"),
    )
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            _cosine_from_norms("vec_a", "vec_b", "norm_a", "norm_b", dim).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def rp_lsh_index(
    corpus: DataFrame,
    dim: int,
    num_bits: int = 24,
    band_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[str, DataFrame]:
    """Persistable hyperplane-LSH index state for an embedding slice —
    the embedding twin of `dedup.minhash_index`:

    - ``entries``  (vid, band, key) — bucket membership
    - ``vectors``  (vid, vec)       — payload for the exact-cosine verify

    At scale: entries clustered by (band, key), vectors bucketed by vid
    (or replaced by their int8 quantized form + rescoring). Building
    costs one fingerprint pass over the slice."""
    return {
        "entries": _rp_band_entries(corpus, dim, num_bits, band_bits, id_col, vec_col),
        "vectors": corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")),
    }


def rp_lsh_index_upsert(
    batch: DataFrame,
    index: dict[str, DataFrame] | None,
    dim: int,
    threshold: float = 0.2,
    num_bits: int = 24,
    band_bits: int = 8,
    max_bucket: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_index: dict[str, DataFrame] | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """One micro-batch of incremental embedding near-dup detection —
    `rp_lsh_near_dup` under continuous ingestion (same contract as
    `dedup.minhash_index_upsert`): returns (pairs, new_index) where
    pairs are the verified (id_a, id_b, cosine) with ≥1 batch side,
    each pair emitted exactly once by the batch that completes it.
    Per-batch cost is O(batch fingerprints + touched buckets) — the old
    corpus contributes only its index tables, never a rescan. Cap-off
    equivalence to the one-shot operator for any id-disjoint batch split
    is pinned by tests/test_incremental_minhash.py. ``batch_index``
    passes a precomputed (persisted-and-re-read) batch index so the
    fingerprints are computed once per batch, as a production sink
    does."""
    b_index = batch_index or rp_lsh_index(batch, dim, num_bits, band_bits, id_col, vec_col)
    if index is None:
        old_entries = None
        all_entries = b_index["entries"]
        all_vecs = b_index["vectors"]
    else:
        old_entries = index["entries"]
        all_entries = old_entries.unionByName(b_index["entries"])
        all_vecs = index["vectors"].unionByName(b_index["vectors"])

    ok_buckets = (
        all_entries.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= max_bucket)
        .select("band", "key")
    )
    new_b = b_index["entries"].join(ok_buckets, ["band", "key"])

    nb_a, nb_b = new_b.alias("a"), new_b.alias("b")
    cand = nb_a.join(
        nb_b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.vid") < F.col("b.vid")),
    ).select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
    if old_entries is not None:
        old_b = old_entries.join(ok_buckets, ["band", "key"])
        o, n = old_b.alias("o"), new_b.alias("n")
        cross = o.join(
            n,
            (F.col("o.band") == F.col("n.band"))
            & (F.col("o.key") == F.col("n.key"))
            & (F.col("o.vid") != F.col("n.vid")),
        ).select(
            F.least(F.col("o.vid"), F.col("n.vid")).alias("id_a"),
            F.greatest(F.col("o.vid"), F.col("n.vid")).alias("id_b"),
        )
        cand = cand.unionByName(cross)
    candidates = cand.distinct()

    va = all_vecs.select(
        F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"),
        norm_expr("vec", dim).alias("norm_a"),
    )
    vb = all_vecs.select(
        F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"),
        norm_expr("vec", dim).alias("norm_b"),
    )
    pairs = (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a", "id_b",
            _cosine_from_norms("vec_a", "vec_b", "norm_a", "norm_b", dim).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return pairs, {"entries": all_entries, "vectors": all_vecs}


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard memory/IO
    reduction for ANN at corpus scale (4× smaller vectors, SIMD-friendly
    integer dot products): ``scale = 127 / max|x|``, each element rounds
    to [-127, 127]. Pure column expressions over the array (JVM-side, no
    shuffle); zero vectors quantize to all-zero with scale 0.

    Returns (id_col, scale double, q array<int>). Dequantize as
    ``q[i] / scale``; at 100 TB you persist (q, scale) beside — or
    instead of — the float vectors and score candidates with integer
    arithmetic, rescoring the top slice at full precision.
    """
    # r14: scale staged as an attribute — inlined inside the q transform's
    # lambda it re-derived absmax (an O(dim) array_max) per ELEMENT
    # (captured subtrees re-evaluate per element in HOF lambdas).
    absmax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    scale = F.when(absmax > 0, F.lit(127.0) / absmax).otherwise(F.lit(0.0))
    staged = df.select(F.col(id_col), F.col(vec_col), scale.alias("scale"))
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.col("scale")).cast("int"),
    )
    return staged.select(F.col(id_col), F.col("scale"), q.alias("q"))


def semdedup(
    corpus: DataFrame,
    dim: int,
    n_clusters: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column. Cluster the corpus with the
    deterministic Lloyd quantizer, form candidate pairs WITHIN a cluster
    only, and for every near-duplicate pair (cosine >= threshold) keep
    the member with the LOWER cosine similarity to its cluster centroid —
    the paper's rule: of two semantic duplicates, the more "typical" one
    (closer to the centroid) is the redundant one.

    The keep-rule here is the single-pass neighborhood form: a vector is
    dropped iff it has at least one above-threshold neighbor with
    strictly smaller (cent_sim, id). The priority-minimum of every
    duplicate neighborhood therefore always survives (no group is
    emptied), without an iterative connected-components pass; feed the
    pair set through `dedup.components` + `cluster_survivors` instead
    when full transitive grouping is wanted.

    Scale: this is the LAION/LLM-scale answer to O(n²) embedding dedup —
    pair formation is bounded by the largest cluster (at 100 TB you raise
    ``n_clusters`` so clusters average ~10³-10⁴ rows: k ≈ n/⟨cluster⟩,
    trained on a hash-sample via ``sample_fraction``), centroids are
    broadcast for assignment (corpus never shuffles for training), and
    the within-cluster self-join co-partitions both sides on centroid_id
    — one shuffle of (id, vec, cent_sim). The drop decision is an
    aggregate over pair losers, not a window over cluster occupants.

    ``max_cluster`` is the family's adversarial-skew guard (the minhash
    `max_bucket` semantics): a cluster with more occupants than the cap
    forms NO pairs — its members pass through kept — so a degenerate
    quantizer (all vectors one direction) cannot trigger quadratic pair
    formation. The guard is a count aggregate + broadcast semi-join on
    the ≤n_clusters-row size table, not a window.

    Returns one row per corpus vector: (id_col, centroid_id, cent_sim
    double, is_kept int 0/1) — deterministic for a fixed corpus under
    any partitioning (Lloyd means use order-independent decimal sums;
    ties break on id).
    """
    cents = kmeans_centroids(
        corpus, dim, k=n_clusters, iters=iters,
        id_col=id_col, vec_col=vec_col, sample_fraction=sample_fraction,
    )
    cents_as_corpus = cents.select(
        F.col("centroid_id").alias(id_col), F.col("cent_vec").alias(vec_col)
    )
    assigned = assign_centroids(
        corpus.select(id_col, vec_col), cents_as_corpus, dim,
        id_col=id_col, vec_col=vec_col,
    )
    # r14 round-close: with_sim (assignment + broadcast centroid join +
    # cent_sim cosine over the corpus) feeds THREE consumers — both
    # sides of the within-cluster pair join and the final left join —
    # so the whole corpus subtree re-evaluated 3× (the minhash-sigs
    # persist precedent; released by `operator_cache_scope`/
    # `release_shingle_caches`). At production scale this is the
    # "persist the assignment layout once" shape SCALING.md documents.
    from manifold_spark.operators.dedup import _persist_tracked

    with_sim = _persist_tracked(
        assigned.join(broadcast(cents), "centroid_id")
        .withColumn("cent_sim", cosine_expr(vec_col, "cent_vec", dim))
        .drop("cent_vec")
    )
    pair_src = with_sim
    if max_cluster is not None:
        ok = (
            with_sim.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_cluster)
            .select("centroid_id")
        )
        pair_src = with_sim.join(broadcast(ok), "centroid_id")
    a = pair_src.select(
        "centroid_id",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm_expr(vec_col, dim).alias("norm_a"),
        F.col("cent_sim").alias("sim_a"),
    )
    b = pair_src.select(
        "centroid_id",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm_expr(vec_col, dim).alias("norm_b"),
        F.col("cent_sim").alias("sim_b"),
    )
    edges = (
        a.join(b, (a["centroid_id"] == b["centroid_id"]) & (F.col("id_a") < F.col("id_b")))
        .filter(
            _cosine_from_norms("vec_a", "vec_b", "norm_a", "norm_b", dim) >= threshold
        )
    )
    # Of each duplicate pair, the loser is the endpoint with the HIGHER
    # (cent_sim, id) — explicit boolean rather than struct comparison so
    # the oracle SQL can mirror it operator-for-operator.
    loser = F.when(
        (F.col("sim_a") > F.col("sim_b"))
        | ((F.col("sim_a") == F.col("sim_b")) & (F.col("id_a") > F.col("id_b"))),
        F.col("id_a"),
    ).otherwise(F.col("id_b"))
    losers = edges.select(loser.alias(id_col)).distinct().withColumn(
        "__dropped", F.lit(1)
    )
    return (
        with_sim.join(losers, id_col, "left")
        .select(
            id_col,
            "centroid_id",
            "cent_sim",
            F.col("__dropped").isNull().cast("int").alias("is_kept"),
        )
    )
