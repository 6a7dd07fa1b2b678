"""Product-quantization (PQ) ANN over embedding columns — the memory-
bound scale path for similarity search (Jegou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011).

Why this exists next to `similarity.topk_ivf`: IVF bounds *compute* (a
query scores nprobe/n_centroids of the corpus) but every scored vector
still costs 4·dim bytes of scan I/O. PQ bounds *bytes*: each vector is
stored as `m` small codes (one byte each at ksub ≤ 256), so a 100 TB
float32 corpus becomes ~3 TB of codes and the ADC scan reads codes
only — the full-precision vectors are touched just for the final
re-rank of ~k·rerank candidates per query. The two compose:
`topk_ivf_pq` adds a scan-side coarse quantizer so a query's ADC scan
touches only its nprobe probed lists; `topk_pq` keeps the flat-ADC form
so each bound stays testable on its own.

Pipeline (all JVM-side, zero Python in the scan):

1. `pq_codebooks`   split dim into m subspaces of dsub = dim/m; per-
   subspace Lloyd k-means (ksub centroids) trained with DataFrame ops —
   deterministic init (first ksub vectors by id), order-independent
   decimal means, so codebooks are bit-reproducible across
   partitionings. Bounded m·ksub-row driver collect per round (the
   codebook IS driver-scale state, like the IVF codebook).
   ``sample_fraction`` trains on a deterministic hash-sample — the
   100 TB path (codebook quality needs ~ksub·10³ vectors, not the
   corpus).
2. `encode`         codes[j] = argmin_c ‖subvec_j − cb[j][c]‖² computed
   scan-side from LITERAL codebook coefficients (struct-array-sort
   argmin, cost m·ksub·dsub fused multiply-adds per vector) — zero
   shuffle, whole-stage-codegen'd. At scale you run this once and
   persist (vec_id, codes) next to the corpus.
3. `topk_pq`        asymmetric-distance (ADC) search: each query builds
   an m×ksub inner-product table against the literal codebook; a
   corpus vector's approximate cosine is then m table lookups + a
   norm-table lookup — no per-pair float math. Candidates are the
   top-R per query via a two-stage slice (per (query, input partition)
   first, then a merge-slice of those ≤ R-struct lists — NO sort-window
   over the scored rows; stage-1 agg state is bounded by one input
   partition's scored rows, stage-2 state by R·touched-partitions per
   query — see the bound discussion in `_adc_search`), then an
   exact-cosine re-rank over R·|Q| rows (candidates broadcast; the
   corpus is never shuffled) emits the final top-k.

Exactness contract: with ``n_candidates ≥ |corpus|`` the re-rank sees
every pair and the output is BIT-IDENTICAL to
`similarity.topk_bruteforce` (same `cosine_expr`, same tie-break) —
pinned by tests/test_pq.py. At production R the result is approximate;
recall@k vs brute force is published by the bench quality tier.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from manifold_spark.operators.linalg import (
    _quote_name,
    cosine_expr,
    double_sql,
    lit_double_array,
)
from manifold_spark.plans.parallelism import ensure_parallelism

#: Defaults sized for the dim-64 embeddings table: 8 subspaces × 8 dims,
#: 16 codes each → 8 codes/vector (64× smaller than float32) while the
#: toy corpus still spreads over 16⁸ possible codewords.
PQ_M = 8
PQ_KSUB = 16


def _fold_dot(a, b):
    """Left-associated Σ aᵢ·bᵢ over two ARRAY columns, folded WITHOUT a
    zero initializer — the seed is the first product, exactly like the
    driver-side `functools.reduce(operator.add, (x*y for …))` chains in
    `_ip_tables`/`_nearest_cells` (a 0.0 seed would differ only in the
    sign of an all-(−0.0) chain, but the LUT equality pin demands
    bit-identity, not just numeric equality). Elements cast float→double
    (exact) inside the fold, so mixed float/double array pairs are fine.
    Higher-order-function evaluation — never an expanded per-term
    expression tree, so janino's method limit (the r2 rejection) is
    never in play."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    # r14 round-close: LET-BIND the products array — referencing `prods`
    # directly in all three fold arguments (slice input, size, seed)
    # evaluated the zip_with THREE TIMES per call (lambda-bearing trees
    # are excluded from codegen subexpression elimination), tripling the
    # multiply work of every scan-side assignment. `transform(array(p),
    # p -> fold(p))[1]` materializes the products once; the fold consumes
    # the SAME terms in the SAME order, so results stay bit-identical
    # (pinned by test_ivf_assignment_scan_equals_agg and the PQ LUT
    # equality pins).
    return F.element_at(
        F.transform(
            F.array(prods),
            lambda p: F.aggregate(
                F.slice(p, 2, F.greatest(F.size(p) - 1, F.lit(0))),
                F.element_at(p, 1),
                operator.add,
            ),
        ),
        1,
    )


def _neg_dot_expr(vec_col: str, cvec: list[float], dim: int):
    """−Σᵢ vec[i]·cvecᵢ (left-associated, cast double) — the
    per-centroid scan-side score used by the coarse argmax structs, as
    ONE `F.expr` parse (a Column chain is ~dim·5 py4j round trips PER
    CENTROID; negative coefficient literals parse via UnaryMinus and fold
    at optimize time — optimized-plan equality with the Column chain
    pinned in test_linalg_fastpath.py)."""
    qv = _quote_name(vec_col)
    terms = " + ".join(
        f"(CAST(element_at({qv}, {i}) AS DOUBLE) * {double_sql(cvec[i - 1])})"
        for i in range(1, dim + 1)
    )
    return F.expr(f"-({terms})")


def pq_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    sample_seed: int = 0,
    seed_filter=None,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks; returns cb[j][c] = centroid vector
    (len dsub, python floats — driver-scale state of m·ksub·dsub
    doubles, e.g. 8·16·8 = 1 Ki for the defaults).

    ``seed_filter`` (optional Column predicate) restricts which rows the
    deterministic init may seed from — training still uses every row.
    The residual path passes ``‖residual‖² > 0`` here (ADVICE r7):
    with default coarse centroids (= the first n_centroids corpus rows)
    the first ksub rows of the residual frame mostly self-assign, so
    their residuals are exactly zero and the unfiltered seed is a set of
    duplicate zero centroids — the empty-cell rule then keeps most
    codewords at zero and the codebook degenerates to ~2 effective
    codewords per subspace. If the filter leaves fewer than ksub rows
    (e.g. every residual is zero because corpus ≡ centroids), seeding
    falls back to the unfiltered deterministic init — quantization
    quality is moot in that case, determinism is not.

    Lloyd rounds (r14 shape): assignment is the SCAN-SIDE literal-
    codebook argmin (`_codes_expr` — bit-identical distances and
    tie-break to the former broadcast-join + min_by fan-out), so a
    round's only shuffle is the means aggregate (map-side combined,
    ≤ m·ksub·dsub keys); means are order-independent decimal averages,
    so training is deterministic under any partitioning. A cell that
    loses all members keeps its previous centroid (standard empty-cell
    handling, deterministic)."""
    from manifold_spark.functions.numeric import decimal_avg

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m

    train = ensure_parallelism(corpus)
    if sample_fraction is not None and sample_fraction < 1.0:
        from manifold_spark.operators.sampling import hash_sample

        train = hash_sample(train, id_col, sample_fraction, seed=sample_seed)

    # Deterministic init: subvectors of the first ksub training vectors
    # by id (bounded ksub-row collect, same convention as the IVF
    # quantizer init in similarity.kmeans_centroids), optionally
    # restricted to seed-eligible rows (see docstring).
    seed_src = train.filter(seed_filter) if seed_filter is not None else train
    seed_rows = seed_src.orderBy(id_col).limit(ksub).select(vec_col).collect()
    if len(seed_rows) < ksub and seed_filter is not None:
        seed_rows = train.orderBy(id_col).limit(ksub).select(vec_col).collect()
    if len(seed_rows) < ksub:
        raise ValueError(f"need ≥{ksub} training vectors, got {len(seed_rows)}")
    cb = [
        [[float(seed_rows[c][0][j * dsub + d]) for d in range(dsub)] for c in range(ksub)]
        for j in range(m)
    ]
    if iters <= 0:
        return cb

    # One subvector-slices expression reused every round (array of m
    # double arrays, built scan-side).
    slices = F.array(
        *[
            F.transform(
                F.slice(F.col(vec_col), j * dsub + 1, dsub), lambda x: x.cast("double")
            )
            for j in range(m)
        ]
    )

    for _ in range(iters):
        # r14 (guide §2.4): the round's assignment is the SCAN-SIDE
        # literal-codebook argmin (`_codes_expr` — pinned bit-identical
        # to the former broadcast-join + min_by fan-out: same Σ (a−b)²
        # left association over the same doubles, same (dist asc, code
        # asc) tie-break), so the per-round n·m-row groupBy shuffle and
        # the ksub× fan-out join are gone; the ONLY shuffle left is the
        # means aggregate, map-side combined over ≤ m·ksub·dsub keys.
        assigned = train.select(
            F.posexplode(
                F.zip_with(
                    _codes_expr(vec_col, cb, dim),
                    slices,
                    lambda c, s: F.struct(c.alias("code"), s.alias("sub")),
                )
            ).alias("j", "cs")
        ).select("j", F.col("cs.code").alias("code"), F.col("cs.sub").alias("subvec"))
        means = (
            assigned.select("j", "code", F.posexplode("subvec").alias("pos", "val"))
            .groupBy("j", "code", "pos")
            .agg(decimal_avg(F.col("val"), scale=8).alias("mean"))
            .groupBy("j", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mean"))),
                    lambda s: s["mean"],
                ).alias("cent")
            )
        )
        for row in means.collect():  # bounded: ≤ m·ksub rows
            cb[row["j"]][row["code"]] = [float(v) for v in row["cent"]]
    return cb


def _codes_expr(
    vec_col: str, codebooks: list[list[list[float]]], dim: int
):
    """The codes array<int> Column: per-subspace scan-side argmin against
    literal codebook coefficients. The struct-array-sort argmin evaluates
    each of the ksub distances exactly once and breaks ties by smallest
    code (struct order = dist asc, code asc), matching the trainer's
    assignment rule bit-for-bit.

    r14: the whole expression renders as ONE Spark-SQL parse — a
    per-term Column chain is ~dim·ksub·6 py4j round trips per invocation
    (seconds of driver time per Lloyd round / encode). `+`/`-`/`*` are
    left-associative in the parser, `element_at`/CAST/array_sort resolve
    to the same Catalyst nodes as their Column builders, `struct(x AS d,
    …)` is the same CreateStruct the aliased `F.struct` builds (NOT
    named_struct, whose node prints differently), and `double_sql`
    literals round-trip bit-exactly (negative codewords parse via
    UnaryMinus, folded at optimize time — optimized-plan equality and
    bit-identical codes vs the Column chain pinned in
    test_linalg_fastpath.py)."""
    m, ksub = len(codebooks), len(codebooks[0])
    dsub = dim // m
    qv = _quote_name(vec_col)
    codes = []
    for j in range(m):
        sub = [
            f"CAST(element_at({qv}, {j * dsub + i}) AS DOUBLE)"
            for i in range(1, dsub + 1)
        ]
        entries = []
        for c in range(ksub):
            terms = " + ".join(
                f"(({a} - {double_sql(v)}) * ({a} - {double_sql(v)}))"
                for a, v in zip(sub, codebooks[j][c])
            )
            entries.append(f"struct({terms} AS d, {c} AS c)")
        codes.append(
            f"element_at(array_sort(array({', '.join(entries)})), 1).c"
        )
    return F.expr("array(" + ", ".join(codes) + ")")


def encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
) -> DataFrame:
    """(id, codes array<int>) — zero shuffle, no UDF; see `_codes_expr`."""
    return ensure_parallelism(corpus).select(
        F.col(id_col).alias(id_col), _codes_expr(vec_col, codebooks, dim).alias(codes_col)
    )


def _norm_tables(codebooks: list[list[list[float]]]) -> list[list[float]]:
    """nt[j][c] = ‖cb[j][c]‖² — the reconstruction's squared-norm
    contribution per codeword, used to estimate ‖x̂‖ from codes alone."""
    return [[sum(v * v for v in cent) for cent in row] for row in codebooks]


def topk_pq(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 2,
    n_candidates: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    sample_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC top-k with exact-cosine re-rank. Returns
    (query_id, neighbor_id, rank, cosine); self-matches excluded, ties
    by (cosine desc, neighbor_id asc) — the `topk_bruteforce` contract.

    ``encoded`` accepts a pre-materialized `encode()` output (the
    production shape: encode once, persist, search many) and REQUIRES the
    explicit ``codebooks`` that built it — silently retraining here could
    produce a codebook that disagrees with the persisted codes and
    degrade ADC ranking with no error. ``n_candidates`` defaults to 32·k
    (R sizes the per-(query, partition) agg state and the driver-scale
    re-rank join, so a generous budget is near-free — measured recall@5
    0.6 at 8·k vs 0.875 at 32·k on the sf0.1 corpus); set it ≥ |corpus|
    to recover the exact brute-force result.

    approx_cosine(q, x) = ⟨q, x̂⟩ / (‖q‖·‖x̂‖) where x̂ is the codeword
    reconstruction: the numerator is m inner-product-table lookups, the
    denominator one norm-table lookup per subspace — both tables are
    per-query / per-codebook literals, so the per-pair cost is O(m)
    regardless of dim."""
    if encoded is not None and codebooks is None:
        raise ValueError(
            "encoded requires the explicit codebooks that built it — "
            "retraining here would silently mis-rank against the persisted codes"
        )
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, dim, m, ksub, iters, id_col, vec_col, sample_fraction
        )
    m, ksub = len(codebooks), len(codebooks[0])
    R = n_candidates if n_candidates is not None else 32 * k
    nt = _norm_tables(codebooks)

    if encoded is not None:
        enc = encoded.select(F.col(id_col).alias("neighbor_id"), F.col("codes"))
    else:
        # Persist the in-plan codes (tracked in the shared operator-cache
        # registry, freed by dedup.release_shingle_caches like every LSH
        # intermediate): codes are the SMALL representation (m ints/row),
        # and without the cache barrier every downstream action re-fuses
        # and re-runs the m·ksub·dsub-term argmin stage — measured 14 s →
        # 2 s per action on a 2 k-vector corpus. Production does the same
        # thing explicitly: encode once, persist, search many (`encoded`).
        from manifold_spark.operators.dedup import _persist_tracked

        enc = _persist_tracked(
            encode(corpus, codebooks, dim, id_col, vec_col)
        ).select(F.col(id_col).alias("neighbor_id"), "codes")

    # Query side (tiny, broadcast): dt[j][c] = ⟨q_subvec_j, cb[j][c]⟩ and
    # the query norm, computed DRIVER-SIDE on the collected query batch
    # (bounded — a query batch is driver-scale by definition, like the
    # codebook). Driver-side is load-bearing, not a convenience: as an
    # in-plan expression the m·ksub·dsub-term table exceeds janino's
    # method limits, and the compile-attempt-then-interpret fallback cost
    # 18-24 s PER ACTION on a 2 k-vector corpus before any row moved.
    # Python floats are IEEE binary64 with the same left-associated
    # (+, *) order and correctly-rounded sqrt as the JVM, so the tables
    # are bit-identical to what the expression form would produce — and
    # they only RANK candidates; the emitted cosine comes from the exact
    # Spark-side re-rank either way.
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    q_rows = _query_rows(queries, codebooks, id_col, vec_col)
    q_schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("dt", ArrayType(ArrayType(DoubleType()))),
            StructField("qnorm", DoubleType()),
        ]
    )
    q = broadcast(
        corpus.sparkSession.createDataFrame(
            [(qid, tables, norm) for qid, tables, norm, _vec in q_rows], q_schema
        )
    )
    return _adc_search(q, enc, nt, k, R, queries, corpus, dim, id_col, vec_col)


def _query_rows(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> list[tuple]:
    """Collect the query batch and compute (query_id, dt, qnorm, vec)
    driver-side: dt[j][c] = ⟨q_subvec_j, cb[j][c]⟩ left-associated, qnorm
    the exact ‖q‖ — bit-identical IEEE doubles to the expression form."""
    import math

    out = []
    for row in queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    ).collect():
        vec = [float(v) for v in row["q_vec"]]
        norm = math.sqrt(functools.reduce(operator.add, (v * v for v in vec)))
        out.append((row["query_id"], _ip_tables(vec, codebooks), norm, vec))
    return out


def _ip_tables(vec: list[float], codebooks: list[list[list[float]]]) -> list:
    """t[j][c] = ⟨vec_subvec_j, cb[j][c]⟩, left-associated doubles — the
    per-subspace inner-product table of a query (the ADC lookup) or of a
    coarse centroid (the residual cross term)."""
    dsub = len(codebooks[0][0])
    return [
        [
            functools.reduce(
                operator.add, (vec[j * dsub + i] * cent[i] for i in range(dsub))
            )
            for cent in cb_j
        ]
        for j, cb_j in enumerate(codebooks)
    ]


def _nearest_cells(vec: list[float], cents: list[tuple], nprobe: int) -> list:
    """A vector's ``nprobe`` nearest coarse cells as (−dot, cid), ranked
    by (dot desc, cid asc) — the `assign_centroids` rule, over
    left-associated double dots (bit-identical to its column form)."""
    return sorted(
        (-functools.reduce(operator.add, (v * c for v, c in zip(vec, cvec))), cid)
        for cid, cvec in cents
    )[:nprobe]


def _cent_aux_tables(cents: list[tuple], codebooks: list[list[list[float]]]) -> dict:
    """cid → (ct, cnorm): the per-coarse-centroid residual-reconstruction
    tables — ct[j][c] = ⟨c_subvec_j, cb[j][c]⟩ (left-associated) and
    ‖c‖². Driver-scale like the codebook (n_centroids·m·ksub doubles).
    ONE definition shared by the driver-side probe build (`topk_ivf_pq`)
    and the column-side build (`adc_probe_tables`) so the two paths can
    never drift."""
    aux = {}
    for cid, cvec in cents:
        cnorm = functools.reduce(operator.add, (v * v for v in cvec))
        aux[cid] = (_ip_tables(cvec, codebooks), cnorm)
    return aux


def adc_probe_tables(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: DataFrame,
    dim: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """The query-side ADC relation computed as COLUMNS — the corpus-scale
    twin of the driver-side `_query_rows` build: the query frame is
    NEVER collected or broadcast. One row per (query, probed list):
    ``(query_id, centroid_id, dt, qnorm[, qc, cnorm, ct])``, exactly the
    schema `_adc_search` scores against.

    How it threads the rejected-approaches needle (NOTES r2/r12):

    - the codebook enters the plan as ONE nested literal array
      (constant-folded by Catalyst into a single Literal value), never
      the expanded m·ksub·dsub-term expression tree that tripped
      janino's 64 KB method limit;
    - every inner product is a higher-order-function fold
      (`_fold_dot`) whose seed and association order match the driver
      build term-for-term, so the tables are BIT-IDENTICAL IEEE doubles
      to `_query_rows`' Python floats (pinned in test_ann_store.py) —
      no numpy, no tolerance;
    - probe assignment is `assign_centroids(rank_limit=nprobe)` — the
      same expression (same (dot desc, cid asc) tie-break) the driver
      ranking mirrors, so the probed-cell sets agree definitionally;
    - the residual form's per-centroid tables (ct, cnorm) stay a
      driver-built BROADCAST relation keyed by centroid_id — they are
      codebook-scale, not query-scale — with the per-(query, cell)
      ⟨q, c⟩ term folded column-side."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    from manifold_spark.operators.similarity import assign_centroids

    m, ksub = len(codebooks), len(codebooks[0])
    dsub = dim // m
    cb_lit = lit_double_array(
        [[[float(v) for v in cent] for cent in codebooks[j]] for j in range(m)]
    )
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dt = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.element_at(cb_lit, j + 1),
            lambda cent: _fold_dot(F.slice(vec_d, j * dsub + 1, dsub), cent),
        ),
    )
    qnorm = F.sqrt(_fold_dot(vec_d, vec_d))
    # dt/qnorm project BEFORE the probe fan-out (review r13): computed
    # once per QUERY row and carried through assign_centroids'
    # any_value aggregation — projecting them onto the exploded probe
    # rows instead would evaluate the m·ksub·dsub fold nprobe× per
    # query, the driver path's exact build-once economy lost.
    pre = queries.select(
        id_col, vec_col, dt.alias("dt"), qnorm.alias("qnorm")
    )
    probes = assign_centroids(
        pre, centroids, dim, id_col, vec_col, rank_limit=nprobe
    )
    out = probes.select(
        F.col(id_col).alias("query_id"),
        F.col("centroid_id"),
        "dt",
        "qnorm",
        *([F.col(vec_col).alias("_q_vec")] if residual else []),
    )
    if residual:
        cents = _sorted_cents(centroids, id_col, vec_col)
        aux = _cent_aux_tables(cents, codebooks)
        aux_schema = StructType(
            [
                StructField("centroid_id", centroids.schema[id_col].dataType),
                StructField("_c_vec", ArrayType(DoubleType())),
                StructField("ct", ArrayType(ArrayType(DoubleType()))),
                StructField("cnorm", DoubleType()),
            ]
        )
        aux_df = broadcast(
            queries.sparkSession.createDataFrame(
                [
                    (cid, cvec, aux[cid][0], aux[cid][1])
                    for cid, cvec in cents
                ],
                aux_schema,
            )
        )
        out = (
            out.join(aux_df, "centroid_id")
            .withColumn("qc", _fold_dot(F.col("_q_vec"), F.col("_c_vec")))
            .drop("_q_vec", "_c_vec")
        )
    return out


def _adc_search(
    q: DataFrame,
    enc: DataFrame,
    nt: list[list[float]],
    k: int,
    R: int,
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str,
    vec_col: str,
    join_on: str | None = None,
    residual: bool = False,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Shared ADC tail: score codes against the broadcast query table
    (crossJoin for flat PQ, equi-join on ``join_on`` for IVF-PQ lists),
    slice top-R candidates per query, exact-cosine re-rank to top-k.

    ``residual=True`` expects three extra columns on the query side
    (per probed list): ``qc`` = ⟨q, c⟩, ``cnorm`` = ‖c‖², and ``ct`` =
    the m×ksub table ⟨c_subvec_j, cb[j][code]⟩. The reconstruction is
    then x̂ = c + r̂, so the inner product gains the qc term and the
    squared norm becomes ‖c‖² + 2⟨c, r̂⟩ + ‖r̂‖² — still O(m) lookups
    per pair, no extra float width anywhere."""
    # Lookups via higher-order functions so `codes` is referenced twice,
    # not 2·m times — with in-plan encoding each reference would inline
    # the full argmin expression tree into the scoring projection.
    adc_ip = F.aggregate(
        F.zip_with("codes", "dt", lambda c, t: F.element_at(t, c.cast("int") + 1)),
        F.lit(0.0),
        operator.add,
    )
    nt_lit = lit_double_array(nt)
    anorm_sq = F.aggregate(
        F.zip_with(
            "codes", nt_lit, lambda c, row: F.element_at(row, c.cast("int") + 1)
        ),
        F.lit(0.0),
        operator.add,
    )
    if residual:
        ct_ip = F.aggregate(
            F.zip_with("codes", "ct", lambda c, t: F.element_at(t, c.cast("int") + 1)),
            F.lit(0.0),
            operator.add,
        )
        adc_ip = F.col("qc") + adc_ip
        anorm_sq = F.col("cnorm") + F.lit(2.0) * ct_ip + anorm_sq
    denom = F.col("qnorm") * F.sqrt(anorm_sq)
    joined = q.join(enc, join_on) if join_on else q.crossJoin(enc)
    scored = joined.filter(F.col("query_id") != F.col("neighbor_id")).withColumn(
        "approx_cos",
        F.when(denom > 0, adc_ip / denom).otherwise(F.lit(0.0)),
    )
    # Top-R candidates per query in TWO stages. What each stage actually
    # bounds (ADVICE r7 — the earlier "≤ R structs cross the shuffle"
    # claim was wrong): F.slice is a post-aggregation projection, so
    # stage 1's collect_list buffer — and the list its exchange carries —
    # holds ALL scored rows of a (query, input-partition) group. Because
    # the group key includes spark_partition_id(), that group lives in
    # exactly ONE input partition, so the buffer is bounded by a single
    # partition's scored rows (ObjectHashAggregate falls back to
    # sort-based and spills past the in-memory threshold), never by the
    # corpus; and stage 2 consumes the already-sliced ≤ R-struct lists,
    # so per-query FINAL state is O(R · touched partitions), not
    # O(corpus) — the real improvement over a single global collect. A
    # hard ≤R-across-the-wire contract is not expressible with built-in
    # aggregates (no bounded top-k UDAF in PySpark; pre-truncating would
    # need the partial buffer itself to slice) — if it ever becomes a
    # requirement, the candidate stage must move to a JVM UDAF or a
    # sorted mapPartitions heap. Result-identical to a single global
    # slice for ANY physical layout: the global top-R by
    # (−approx_cos, neighbor_id) is a subset of the union of
    # per-partition top-Rs, and the final sort applies the same total
    # order, so the emitted R structs are bit-identical regardless of
    # where spark_partition_id() cut.
    cand_struct = F.struct((-F.col("approx_cos")).alias("neg"), F.col("neighbor_id"))
    partial = scored.groupBy("query_id", F.spark_partition_id().alias("_pid")).agg(
        F.slice(F.array_sort(F.collect_list(cand_struct)), 1, R).alias("top")
    )
    cands = (
        partial.select("query_id", F.explode("top").alias("s"))
        .groupBy("query_id")
        .agg(F.slice(F.array_sort(F.collect_list("s")), 1, R).alias("top"))
        .select(
            "query_id", F.explode(F.col("top").getField("neighbor_id")).alias("neighbor_id")
        )
    )

    # Exact re-rank: the only stage that touches full-precision vectors.
    # Serving shape (broadcast_queries=True): candidates (|Q|·R rows)
    # and the query vectors broadcast onto the corpus — it is never
    # shuffled for the re-rank. Corpus-scale query frames
    # (broadcast_queries=False) drop both hints: the joins shuffle on
    # neighbor_id / query_id instead of replicating a corpus-sized
    # candidate set to every task (size-based selection may still
    # broadcast a genuinely small side — the knob removes the HINT,
    # the same contract as `similarity.topk_ivf`).
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    if broadcast_queries:
        cands = broadcast(cands)
        qv = broadcast(qv)
    rr = (
        cands
        .join(vecs, "neighbor_id")
        .join(qv, "query_id")
        .withColumn("cosine", cosine_expr("q_vec", "c_vec", dim))
    )
    return (
        rr.groupBy("query_id")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.struct((-F.col("cosine")).alias("neg"), F.col("neighbor_id"))
                    )
                ),
                1,
                k,
            ).alias("top")
        )
        .select("query_id", F.posexplode("top").alias("pos", "s"))
        .select(
            "query_id",
            F.col("s.neighbor_id").alias("neighbor_id"),
            (F.col("pos") + 1).cast("int").alias("rank"),
            (-F.col("s.neg")).alias("cosine"),
        )
    )


def _collect_centroids(
    centroids: DataFrame, id_col: str, vec_col: str
) -> list[tuple]:
    """Bounded collect of the coarse codebook as (cid, vector) pairs.
    Centroid ids keep their source value untouched — default centroids
    are corpus rows whose id column is typically long, and forcing int32
    here would crash (or silently corrupt) ids ≥ 2³¹; the id TYPE is
    carried end-to-end via `centroids.schema[id_col].dataType`."""
    return [
        (r["cid"], [float(v) for v in r["cvec"]])
        for r in centroids.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        ).collect()
    ]


def _sorted_cents(centroids: DataFrame, id_col: str, vec_col: str) -> list[tuple]:
    """Coarse codebook collected and sorted by centroid id, so list
    POSITION order equals the cid-ascending tie-break order — required by
    the residual path's positional literal lookups."""
    return sorted(_collect_centroids(centroids, id_col, vec_col), key=lambda t: t[0])


def _residual_frame(
    corpus: DataFrame,
    cents: list[tuple],
    dim: int,
    cid_type,
    id_col: str,
    vec_col: str,
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, centroid_id, residual array<double>, *extra_cols) — one
    zero-shuffle pass:
    scan-side argmax picks the coarse list POSITION (cents is cid-sorted,
    so (dot desc, pos asc) ≡ the assign_centroids (dot desc, cid asc)
    tie-break), then positional literal lookups produce the centroid id
    and the residual v − c. The position/residual expressions live in
    separate projections so Catalyst keeps them as once-per-row
    intermediates (CollapseProject does not duplicate expensive
    multi-referenced expressions)."""
    pos_entries = [
        F.struct(
            _neg_dot_expr(vec_col, cvec, dim).alias("neg"),
            F.lit(p).alias("p"),
        )
        for p, (_cid, cvec) in enumerate(cents)
    ]
    pos = F.element_at(F.array_sort(F.array(*pos_entries)), 1).getField("p")
    cid_arr = F.array(*[F.lit(cid).cast(cid_type) for cid, _cvec in cents])
    cent_mat = lit_double_array([[float(v) for v in cvec] for _cid, cvec in cents])
    staged = ensure_parallelism(corpus).select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.col(vec_col).alias("_vec"),
        pos.alias("_cpos"),
    )
    return staged.select(
        F.col(id_col),
        F.element_at(cid_arr, F.col("_cpos") + 1).alias("centroid_id"),
        F.zip_with(
            F.transform("_vec", lambda x: x.cast("double")),
            F.element_at(cent_mat, F.col("_cpos") + 1),
            lambda a, b: a - b,
        ).alias("residual"),
        *[F.col(c) for c in extra_cols],
    )


def ivf_pq_index(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    dim: int,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    extra_cols: tuple = (),
) -> DataFrame:
    """(id, codes, centroid_id, *extra_cols) — the persistable IVF-PQ
    index: ONE
    zero-shuffle corpus pass computing both the PQ codes and the coarse
    list assignment as literal scan-side argmin/argmax (struct sort =
    -dot asc then cid asc ⇒ highest dot, smallest cid — the
    `similarity.assign_centroids` tie-break). At scale, write this
    range-clustered on centroid_id (`plans.layout.write_range_clustered`)
    so a probe is a partition-pruned scan of nprobe/n_centroids of the
    codes.

    ``residual=True`` encodes v − c(v) instead of v (the FAISS IVFPQ
    default): residuals are much smaller in magnitude than raw vectors,
    so the same m×ksub codebook budget quantizes them finer — pass
    codebooks trained on the residual distribution (`topk_ivf_pq`
    trains them when ``residual=True``). Still one zero-shuffle pass;
    the residual is materialized once per row between projections."""
    if residual:
        cents_sorted = _sorted_cents(centroids, id_col, vec_col)
        rf = _residual_frame(
            corpus, cents_sorted, dim, centroids.schema[id_col].dataType,
            id_col, vec_col, extra_cols=extra_cols,
        )
        return rf.select(
            F.col(id_col),
            _codes_expr("residual", codebooks, dim).alias("codes"),
            F.col("centroid_id"),
            *[F.col(c) for c in extra_cols],
        )
    cents = _collect_centroids(centroids, id_col, vec_col)
    # Centroid-id literals are cast to the centroids frame's own id type:
    # F.lit(python_int) infers int32 for small values, which would both
    # mix struct element types across entries and truncate ids ≥ 2³¹.
    cid_type = centroids.schema[id_col].dataType
    coarse_entries = [
        F.struct(
            _neg_dot_expr(vec_col, cvec, dim).alias("neg"),
            F.lit(cid).cast(cid_type).alias("cid"),
        )
        for cid, cvec in cents
    ]
    coarse = F.element_at(F.array_sort(F.array(*coarse_entries)), 1).getField("cid")
    return ensure_parallelism(corpus).select(
        F.col(id_col),
        _codes_expr(vec_col, codebooks, dim).alias("codes"),
        coarse.alias("centroid_id"),
        *[F.col(c) for c in extra_cols],
    )


def topk_ivf_pq(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = 2,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_candidates: int | None = None,
    codebooks: list[list[list[float]]] | None = None,
    centroids: DataFrame | None = None,
    encoded: DataFrame | None = None,
    sample_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
    broadcast_queries: bool = True,
    probe_tables: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the composed 100 TB ANN architecture (FAISS IVFPQ shape) —
    a coarse quantizer prunes which inverted lists a query scans, PQ
    codes bound the bytes each scanned row costs.

    Differences from `topk_pq`: the one-pass corpus projection emits
    (id, codes, coarse list id) — the coarse assignment is a SCAN-SIDE
    literal argmax (same tie-break as `similarity.assign_centroids`:
    highest dot, then smallest centroid id), so building the index never
    shuffles the corpus at all. Queries probe their ``nprobe`` nearest
    lists (computed driver-side on the collected batch) and the ADC scan
    becomes an equi-join on the list id instead of a full pass — at
    scale, persist the (codes, list id) table range-clustered on the
    list id and the probe is a partition-pruned scan of
    nprobe/n_centroids of the codes. Default centroids are the first
    ``n_centroids`` corpus vectors by id (the `topk_ivf` convention);
    pass Lloyd-trained ``centroids`` — as (id_col, vec_col) columns,
    the same contract as `similarity.topk_ivf` — for tighter lists. Each corpus
    vector lives in exactly one list, so no pair dedup is needed.
    ``encoded`` accepts a pre-materialized `ivf_pq_index()` output and
    REQUIRES the explicit ``codebooks`` AND ``centroids`` that built it
    (the production shape: index once, search many) — retraining or
    re-deriving either here could silently disagree with the persisted
    codes/list ids and mis-rank with no error. Returns the
    `topk_bruteforce` contract; approximate — recall published by the
    bench quality tier.

    ``residual=True`` (r7, the FAISS IVFPQ default): PQ codes encode
    v − c(v) instead of v, and the codebooks (when not passed) train on
    the residual distribution. Residuals are much smaller in magnitude
    than raw vectors, so the same m×ksub budget quantizes them finer —
    measured recall@5 at the default nprobe=4 budget rises 0.925 → 1.0
    on the sf0.1 corpus. Scoring stays O(m) lookups per pair: the
    reconstruction is x̂ = c + r̂, handled by three extra driver-side
    tables per probed list (⟨q,c⟩, ‖c‖², ⟨c_subvec, codeword⟩). A passed
    ``encoded`` index must have been built with ``residual=True`` and
    the same codebooks/centroids.

    ``broadcast_queries=False`` is the corpus-scale-query shape (r13 —
    the store's last named scale boundary): the query batch is NEVER
    collected — the per-(query, probed list) ADC tables compute as
    columns (`adc_probe_tables`, bit-identical to the driver build),
    the ADC scan shuffle-joins codes and probes on the list id, and the
    exact re-rank joins without query-side broadcast hints. The caller
    must pass a DETERMINISTIC query frame (pin it with an eager
    `stage_boundary` if the source samples/limits —
    `AnnIndexStore.topk_pq` does)."""
    if encoded is not None and (codebooks is None or centroids is None):
        raise ValueError(
            "encoded requires the explicit codebooks AND centroids that built "
            "it — re-deriving either would silently mismatch the persisted index"
        )
    if centroids is None:
        centroids = corpus.orderBy(id_col).limit(n_centroids)
    cents = _sorted_cents(centroids, id_col, vec_col)

    trained_rf = None
    if codebooks is None:
        if residual:
            # Train on the residual distribution — the whole point of
            # residual encoding; raw-vector codebooks would mis-span it.
            # r14 (guide §1.2): persist the residual frame — training
            # evaluates it ~3× (seed collect + one pass per Lloyd round)
            # and encoding once more, each pass re-running the
            # n_centroids·dim coarse argmin + subtraction from scratch.
            # One materialization, tracked in the shared operator-cache
            # registry (released like every LSH/codes intermediate);
            # values identical either way.
            from manifold_spark.operators.dedup import _persist_tracked

            rf = _persist_tracked(
                _residual_frame(
                    corpus, cents, dim, centroids.schema[id_col].dataType,
                    id_col, vec_col,
                )
            )
            trained_rf = rf
            codebooks = pq_codebooks(
                rf, dim, m, ksub, iters, id_col, "residual", sample_fraction,
                # Seed only from nonzero residuals: rows that ARE coarse
                # centroids self-assign with residual exactly 0, and with
                # default centroids those are precisely the first
                # n_centroids ids the unfiltered seed would pick (see
                # pq_codebooks docstring / ADVICE r7).
                seed_filter=F.aggregate(
                    F.col("residual"), F.lit(0.0), lambda a, x: a + x * x
                )
                > 0,
            )
        else:
            codebooks = pq_codebooks(
                corpus, dim, m, ksub, iters, id_col, vec_col, sample_fraction
            )
    m, ksub = len(codebooks), len(codebooks[0])
    R = n_candidates if n_candidates is not None else 32 * k
    nt = _norm_tables(codebooks)

    if encoded is not None:
        enc = encoded.select(
            F.col(id_col).alias("neighbor_id"), "codes", "centroid_id"
        )
    else:
        from manifold_spark.operators.dedup import _persist_tracked

        if trained_rf is not None:
            # Encode from the already-persisted residual frame — the
            # exact expression `ivf_pq_index(residual=True)` builds
            # (rf.select(id, codes, centroid_id)), minus its from-scratch
            # residual recompute.
            index = trained_rf.select(
                F.col(id_col),
                _codes_expr("residual", codebooks, dim).alias("codes"),
                F.col("centroid_id"),
            )
        else:
            index = ivf_pq_index(
                corpus, codebooks, dim, centroids, id_col, vec_col,
                residual=residual,
            )
        enc = _persist_tracked(index).select(
            F.col(id_col).alias("neighbor_id"), "codes", "centroid_id"
        )

    if not broadcast_queries:
        # Corpus-scale query frame: tables as columns, no collect, no
        # query-side hints anywhere downstream. ``probe_tables`` accepts
        # a pre-built (typically persisted) `adc_probe_tables` output so
        # a caller that already evaluated it — the store derives its
        # pruned-read cell set from the same relation — doesn't pay the
        # probe assignment twice (review r13); it must have been built
        # with the SAME codebooks/centroids/nprobe/residual.
        q = probe_tables
        if q is None:
            q = adc_probe_tables(
                queries, codebooks, centroids, dim, nprobe, id_col, vec_col,
                residual=residual,
            )
        return _adc_search(
            q, enc, nt, k, R, queries, corpus, dim, id_col, vec_col,
            join_on="centroid_id", residual=residual,
            broadcast_queries=False,
        )

    # Driver-side probe assignment on the collected query batch: top
    # nprobe lists by (dot desc, cid asc) — the assign_centroids rule.
    q_rows = _query_rows(queries, codebooks, id_col, vec_col)
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    if residual:
        # Per-list auxiliary tables (driver-scale, like the codebook):
        # ct[l][j][c] = ⟨c_l subvec j, cb[j][c]⟩ and ‖c_l‖² — the cross
        # and norm terms of the x̂ = c + r̂ reconstruction (shared
        # definition with the column-side build: `_cent_aux_tables`).
        cent_aux = _cent_aux_tables(cents, codebooks)

    q_data = []
    for qid, tables, norm, vec in q_rows:
        for negdot, cid in _nearest_cells(vec, cents, nprobe):
            if residual:
                ct, cnorm = cent_aux[cid]
                q_data.append((qid, cid, tables, norm, -negdot, cnorm, ct))
            else:
                q_data.append((qid, cid, tables, norm))
    # centroid_id carries the centroids frame's own id type (see
    # `_collect_centroids`) so the probe join matches the index column
    # type exactly for long ids too.
    fields = [
        StructField("query_id", queries.schema[id_col].dataType),
        StructField("centroid_id", centroids.schema[id_col].dataType),
        StructField("dt", ArrayType(ArrayType(DoubleType()))),
        StructField("qnorm", DoubleType()),
    ]
    if residual:
        fields += [
            StructField("qc", DoubleType()),
            StructField("cnorm", DoubleType()),
            StructField("ct", ArrayType(ArrayType(DoubleType()))),
        ]
    q_schema = StructType(fields)
    q = broadcast(corpus.sparkSession.createDataFrame(q_data, q_schema))
    return _adc_search(
        q, enc, nt, k, R, queries, corpus, dim, id_col, vec_col,
        join_on="centroid_id", residual=residual,
    )
