"""Product-quantization ANN (`operators/pq.py`): exactness contract vs
brute force, code well-formedness, partitioning determinism, recall
floor, and the zero-shuffle encode plan shape."""


from __future__ import annotations

import pytest

# r15 slow tier (VERDICT r14 #2): PQ codebook training tiers —
# excluded from the default (driver-verify) run by pytest.ini's
# `-m "not slow"`; run with `-m slow` (round-close evidence in
# OPTIMIZATION_r15.md).
pytestmark = pytest.mark.slow

import pytest
from pyspark.sql import functions as F

from manifold_spark.operators import DIM, N_QUERIES, TOP_K, pq, similarity
from manifold_spark.queries import _t


@pytest.fixture(autouse=True)
def _release_pq_caches():
    """topk_pq's inline-encode path persists its codes through the shared
    operator-cache registry; free them after every test."""
    yield
    from manifold_spark.operators.dedup import release_shingle_caches

    release_shingle_caches()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return _t(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def emb_queries(emb):
    return emb.filter(F.col("vec_id") < N_QUERIES)


@pytest.fixture(scope="module")
def codebooks(emb):
    return pq.pq_codebooks(emb, DIM)


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"]) for r in df.collect()
    )


def test_full_rerank_equals_bruteforce(spark, emb, emb_queries, codebooks):
    """With n_candidates ≥ |corpus| the re-rank sees every pair, so the
    output must be BIT-identical to topk_bruteforce (same cosine_expr,
    same tie-break) — the strongest possible equivalence for the
    surrounding plumbing (encode → ADC → candidate agg → re-rank)."""
    n = emb.count()
    exact = _rows(similarity.topk_bruteforce(emb_queries, emb, DIM, k=TOP_K))
    via_pq = _rows(
        pq.topk_pq(
            emb_queries, emb, DIM, k=TOP_K, n_candidates=n, codebooks=codebooks
        )
    )
    assert via_pq == exact


def test_codes_shape_and_range(emb, codebooks):
    enc = pq.encode(emb, codebooks, DIM)
    stats = enc.select(
        F.size("codes").alias("m"),
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
    ).agg(
        F.min("m"), F.max("m"), F.min("lo"), F.max("hi")
    ).collect()[0]
    assert stats[0] == stats[1] == pq.PQ_M
    assert stats[2] >= 0 and stats[3] < pq.PQ_KSUB


def test_encode_plan_has_no_exchange(emb, codebooks):
    """Encoding is scan-side literal arithmetic — the persisted-codes
    production step must never HASH-shuffle the corpus. (The one
    round-robin exchange is ensure_parallelism's split of the
    single-file test parquet — a no-op on a real multi-split layout,
    pinned by test_plans.py::test_ensure_parallelism_file_heuristic.)"""
    plan = pq.encode(emb, codebooks, DIM)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # only the parallelism split


def test_codebooks_deterministic_under_repartition(emb, codebooks):
    reparted = pq.pq_codebooks(emb.repartition(7), DIM)
    assert reparted == codebooks


def test_recall_floor_at_default_candidates(emb, emb_queries, codebooks):
    """Default R = 32k candidates: the ADC ranking must put ≥70% of the
    true top-k inside its candidate set on this corpus (floored with
    margin; the bench quality tier publishes the measured number per
    round)."""
    exact = similarity.topk_bruteforce(emb_queries, emb, DIM, k=TOP_K)
    approx = pq.topk_pq(emb_queries, emb, DIM, k=TOP_K, codebooks=codebooks)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(got & truth) / len(truth) >= 0.70


def test_sampled_training_output_shape(emb, emb_queries):
    out = pq.topk_pq(emb_queries, emb, DIM, k=TOP_K, sample_fraction=0.5)
    rows = out.collect()
    assert len(rows) == N_QUERIES * TOP_K
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, TOP_K + 1))
        cosines = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_ivf_pq_full_probe_full_rerank_equals_bruteforce(emb, emb_queries, codebooks):
    """nprobe = n_centroids and R ≥ |corpus| ⇒ every pair is scored and
    exactly re-ranked — IVF-PQ must be BIT-identical to brute force,
    pinning the coarse-assign + list-join plumbing end to end."""
    n = emb.count()
    exact = _rows(similarity.topk_bruteforce(emb_queries, emb, DIM, k=TOP_K))
    via = _rows(
        pq.topk_ivf_pq(
            emb_queries, emb, DIM, k=TOP_K, nprobe=16, n_candidates=n,
            codebooks=codebooks,
        )
    )
    assert via == exact


def test_ivf_pq_recall_floor(emb, emb_queries, codebooks):
    """Default nprobe=4 of 16 lists: measured 0.925 at sf0.001 — floored
    with margin. The list pruning must not collapse recall."""
    exact = similarity.topk_bruteforce(emb_queries, emb, DIM, k=TOP_K)
    approx = pq.topk_ivf_pq(emb_queries, emb, DIM, k=TOP_K, codebooks=codebooks)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(got & truth) / len(truth) >= 0.70


def test_ivf_pq_with_lloyd_centroids(emb, emb_queries, codebooks):
    """The documented cross-module contract: Lloyd-trained centroids from
    similarity.kmeans_centroids, realiased to (id_col, vec_col), must
    plug into topk_ivf_pq and keep the recall floor."""
    from pyspark.sql import functions as F

    cents = similarity.kmeans_centroids(emb, DIM, k=16, iters=1).select(
        F.col("centroid_id").alias("vec_id"), F.col("cent_vec").alias("embedding")
    )
    exact = similarity.topk_bruteforce(emb_queries, emb, DIM, k=TOP_K)
    approx = pq.topk_ivf_pq(
        emb_queries, emb, DIM, k=TOP_K, codebooks=codebooks, centroids=cents
    )
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(got) == len(truth)
    assert len(got & truth) / len(truth) >= 0.70


def test_ivf_pq_encoded_reuse_matches_inline(emb, emb_queries, codebooks):
    """A pre-materialized ivf_pq_index (the production index-once shape)
    must give the identical result to in-plan index construction."""
    from pyspark.sql import functions as F

    cents = emb.orderBy("vec_id").limit(16)
    idx = pq.ivf_pq_index(emb, codebooks, DIM, cents).persist()
    inline = _rows(pq.topk_ivf_pq(emb_queries, emb, DIM, k=TOP_K, codebooks=codebooks))
    reused = _rows(
        pq.topk_ivf_pq(
            emb_queries, emb, DIM, k=TOP_K, codebooks=codebooks,
            centroids=cents, encoded=idx,
        )
    )
    idx.unpersist()
    assert reused == inline


def test_ivf_pq_residual_full_budget_equals_bruteforce(emb, emb_queries):
    """Residual encoding (r7, VERDICT r6 #7) keeps the exactness
    contract: nprobe = n_centroids and R ≥ |corpus| ⇒ the exact re-rank
    sees every pair, so the x̂ = c + r̂ ADC path must be BIT-identical to
    brute force — pinning the residual frame, residual-trained codebooks,
    and the qc/cnorm/ct scoring terms end to end."""
    n = emb.count()
    exact = _rows(similarity.topk_bruteforce(emb_queries, emb, DIM, k=TOP_K))
    via = _rows(
        pq.topk_ivf_pq(
            emb_queries, emb, DIM, k=TOP_K, nprobe=16, n_candidates=n,
            residual=True,
        )
    )
    assert via == exact


def test_ivf_pq_residual_recall_floor(emb, emb_queries):
    """At the default nprobe/budget the residual path must keep the same
    recall floor as the raw encoding (ADVICE r7: the old strict
    res ≥ raw dominance held empirically on this corpus but is not
    guaranteed in general — finer quantization of the same budget
    usually ranks better, yet nothing pins it per-corpus). The measured
    headline numbers live in the bench quality tier (sf0.1: raw 0.925,
    residual 1.0 at unchanged nprobe=4)."""
    exact = similarity.topk_bruteforce(emb_queries, emb, DIM, k=TOP_K)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    res = pq.topk_ivf_pq(emb_queries, emb, DIM, k=TOP_K, residual=True)
    res_hits = len({(r["query_id"], r["neighbor_id"]) for r in res.collect()} & truth)
    assert res_hits / len(truth) >= 0.70


def test_encoded_without_codebooks_raises(emb, emb_queries, codebooks):
    """A pre-materialized index without the codebooks/centroids that
    built it must be rejected (silent retraining would mis-rank against
    the persisted codes with no error — ADVICE r6)."""
    import pytest as _pytest

    enc = pq.encode(emb, codebooks, DIM)
    with _pytest.raises(ValueError):
        pq.topk_pq(emb_queries, emb, DIM, k=TOP_K, encoded=enc)
    cents = emb.orderBy("vec_id").limit(16)
    idx = pq.ivf_pq_index(emb, codebooks, DIM, cents)
    with _pytest.raises(ValueError):
        pq.topk_ivf_pq(emb_queries, emb, DIM, k=TOP_K, encoded=idx)
    with _pytest.raises(ValueError):
        pq.topk_ivf_pq(
            emb_queries, emb, DIM, k=TOP_K, encoded=idx, codebooks=codebooks
        )


def test_ivf_pq_index_plan_has_no_hash_exchange(emb, codebooks):
    """The one-pass (id, codes, list id) index projection must never
    hash-shuffle the corpus — coarse assignment is scan-side literal
    arithmetic, not the aggregate path."""
    from pyspark.sql import functions as F
    import functools as ft
    import operator as op

    from reference_forms import element

    from manifold_spark.plans.parallelism import ensure_parallelism

    cents = [
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.orderBy("vec_id").limit(16).collect()
    ]
    entries = [
        F.struct(
            (
                -ft.reduce(
                    op.add,
                    (element("embedding", i) * F.lit(cv[i - 1]) for i in range(1, DIM + 1)),
                )
            ).alias("neg"),
            F.lit(cid).alias("cid"),
        )
        for cid, cv in cents
    ]
    coarse = F.element_at(F.array_sort(F.array(*entries)), 1).getField("cid")
    idx = ensure_parallelism(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        pq._codes_expr("embedding", codebooks, DIM).alias("codes"),
        coarse.alias("centroid_id"),
    )
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # only the parallelism split
    # r7: the residual index keeps the same zero-shuffle contract — the
    # residual is materialized between projections, never aggregated.
    cents_df = emb.orderBy("vec_id").limit(16)
    ridx = pq.ivf_pq_index(emb, codebooks, DIM, cents_df, residual=True)
    rplan = ridx._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in rplan
    assert rplan.count("Exchange") <= 1


def test_encode_matches_pure_python(emb, codebooks):
    """Cross-implementation pin (the simhash-style reimplementation
    test): Spark's literal-argmin encode must equal an independent pure-
    Python PQ encoder — same left-associated (v−c)·(v−c) double sums,
    same (dist asc, code asc) tie-break — for EVERY corpus vector.
    Catches any drift in the expression construction (wrong subspace
    offset, 0/1-based slip, tie-break inversion) that the end-to-end
    equivalence test could mask behind the re-rank."""
    m, ksub = len(codebooks), len(codebooks[0])
    dsub = DIM // m
    rows = emb.select("vec_id", "embedding").collect()
    expected = {}
    for r in rows:
        vec = [float(v) for v in r["embedding"]]
        codes = []
        for j in range(m):
            best = None
            for c in range(ksub):
                d = 0.0
                for i in range(dsub):
                    t = vec[j * dsub + i] - codebooks[j][c][i]
                    d = d + t * t
                if best is None or (d, c) < best:
                    best = (d, c)
            codes.append(best[1])
        expected[r["vec_id"]] = codes
    got = {
        r["vec_id"]: list(r["codes"])
        for r in pq.encode(emb, codebooks, DIM).collect()
    }
    assert got == expected


def test_adc_probe_tables_bit_identical_to_driver_build(emb, codebooks):
    """The column-side ADC lookup-table build (r13 — the corpus-scale
    `topk_pq` probe) must produce BIT-IDENTICAL doubles to the driver
    build it replaces: dt[j][c], qnorm, and the residual form's qc per
    (query, probed list). The column fold is seeded by the first
    product (no 0.0 init) to replay `_query_rows`' reduce order exactly
    — this pin is what makes the end-to-end equality test a contract
    rather than a coincidence."""
    import struct

    cents_df = emb.orderBy("vec_id").limit(16)
    cents = pq._sorted_cents(cents_df, "vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    # driver build: same loop as topk_ivf_pq's probe assembly
    q_rows = pq._query_rows(queries, codebooks, "vec_id", "embedding")
    import functools
    import operator

    want = {}
    for qid, tables, norm, vec in q_rows:
        dots = sorted(
            (
                -functools.reduce(
                    operator.add, (v * c for v, c in zip(vec, cvec))
                ),
                cid,
            )
            for cid, cvec in cents
        )[:4]
        for negdot, cid in dots:
            want[(qid, cid)] = (tables, norm, -negdot)

    got_df = pq.adc_probe_tables(
        queries, codebooks, cents_df, DIM, nprobe=4,
        id_col="vec_id", vec_col="embedding", residual=True,
    )
    got = {
        (r["query_id"], r["centroid_id"]): (
            [[v for v in row] for row in r["dt"]],
            r["qnorm"],
            r["qc"],
        )
        for r in got_df.collect()
    }
    assert set(got) == set(want)

    def bits(x):
        return struct.pack("<d", x)

    for key, (dt_w, norm_w, qc_w) in want.items():
        dt_g, norm_g, qc_g = got[key]
        assert bits(norm_g) == bits(norm_w), key
        assert bits(qc_g) == bits(qc_w), key
        for j in range(len(dt_w)):
            for c in range(len(dt_w[j])):
                assert bits(dt_g[j][c]) == bits(dt_w[j][c]), (key, j, c)


# --- hypothesis: adversarial corpora (zero vectors, exact duplicates,
# --- tied cosines) must keep the full-budget equivalence exact ---------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_DIM_SMALL = 8
_coord = st.sampled_from([-1.0, -0.5, 0.0, 0.5, 1.0])
_vec = st.lists(_coord, min_size=_DIM_SMALL, max_size=_DIM_SMALL)
#: ≥ ksub+queries vectors; tiny coordinate alphabet ⇒ duplicates, zero
#: vectors, and exactly tied cosines occur constantly.
_corpus = st.lists(_vec, min_size=6, max_size=12)


@given(vecs=_corpus)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_property_full_budget_pq_equals_bruteforce(spark, vecs):
    """For ANY corpus — including zero-norm vectors, exact duplicates,
    and tied cosines — flat PQ at full candidate budget and IVF-PQ at
    full probe+budget must be BIT-identical to brute force (shared
    cosine_expr zero-norm guard, shared tie-break). ksub/m sized down to
    the corpus so the seed init never starves."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    qs = df.filter(F.col("vec_id") < 2)
    n = len(vecs)
    k = 3
    exact = _rows(similarity.topk_bruteforce(qs, df, _DIM_SMALL, k=k))
    cb = pq.pq_codebooks(df, _DIM_SMALL, m=2, ksub=min(4, n), iters=1)
    flat = _rows(
        pq.topk_pq(qs, df, _DIM_SMALL, k=k, n_candidates=n, codebooks=cb)
    )
    assert flat == exact
    ivf = _rows(
        pq.topk_ivf_pq(
            qs, df, _DIM_SMALL, k=k, n_centroids=min(4, n), nprobe=min(4, n),
            n_candidates=n, codebooks=cb,
        )
    )
    assert ivf == exact
    from manifold_spark.operators.dedup import release_shingle_caches

    release_shingle_caches()


def test_encoded_reuse_matches_inline(emb, emb_queries, codebooks):
    """Passing a pre-materialized encode() output (the production
    encode-once shape) must give the identical result to in-plan
    encoding."""
    enc = pq.encode(emb, codebooks, DIM)
    inline = _rows(pq.topk_pq(emb_queries, emb, DIM, k=TOP_K, codebooks=codebooks))
    reused = _rows(
        pq.topk_pq(emb_queries, emb, DIM, k=TOP_K, codebooks=codebooks, encoded=enc)
    )
    assert reused == inline
