"""r14 plan-build fast paths must be invisible to Catalyst: the
single-parse SQL forms of dot/norm/cosine and the one-parse literal
arrays must analyze/optimize to the IDENTICAL tree the per-term Column
builders produced (hence bit-identical results — the oracle gates never
see a difference). These pins are what lets the fast paths claim "same
expression, fewer py4j round trips". The Column builders live in
`reference_forms`."""

from __future__ import annotations

import math
import re
import struct

import pytest
import reference_forms as R
from pyspark.sql import functions as F

import manifold_spark.operators.linalg as L

DIM = 4


@pytest.fixture(scope="module")
def vec_df(spark):
    rows = [
        (1, [0.1, -2.5, 3.25, 0.0], [1.5, 2.0, -0.5, 4.0]),
        (2, [0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 1.0, 1.0]),  # zero-norm side
        (3, [1e-8, 2e8, -3.3, 7.7], [-1e-8, 2e-8, 3.14159, 2.71828]),
    ]
    return spark.createDataFrame(rows, ["id", "va", "vb"]).selectExpr(
        "id", "cast(va as array<float>) va", "cast(vb as array<float>) vb"
    )


def _norm_ids(s: str) -> str:
    return re.sub(r"#\d+", "#", s)


def _analyzed(df, col) -> str:
    return _norm_ids(df.select(col.alias("r"))._jdf.queryExecution().analyzed().toString())


def _optimized(df, col) -> str:
    return _norm_ids(
        df.select(col.alias("r"))._jdf.queryExecution().optimizedPlan().toString()
    )


def _bits(df, col):
    vals = [r["r"] for r in df.select(col.alias("r")).orderBy("id").collect()]
    return [None if v is None else struct.pack("<d", v) for v in vals]


def _slow_cosine(a, b):
    denom = F.sqrt(R.dot_expr_columns(a, a, DIM)) * F.sqrt(R.dot_expr_columns(b, b, DIM))
    return F.when(denom > 0, R.dot_expr_columns(a, b, DIM) / denom).otherwise(F.lit(0.0))


def test_dot_fastpath_tree_and_bits_identical(vec_df):
    fast = L.dot_expr("va", "vb", DIM)
    slow = R.dot_expr_columns("va", "vb", DIM)
    assert _analyzed(vec_df, fast) == _analyzed(vec_df, slow)
    assert _bits(vec_df, fast) == _bits(vec_df, slow)


def test_norm_fastpath_tree_identical(vec_df):
    fast = L.norm_expr("va", DIM)
    slow = F.sqrt(R.dot_expr_columns("va", "va", DIM))
    assert _analyzed(vec_df, fast) == _analyzed(vec_df, slow)
    assert _bits(vec_df, fast) == _bits(vec_df, slow)


def test_cosine_fastpath_tree_identical_including_zero_norm_guard(vec_df):
    fast = L.cosine_expr("va", "vb", DIM)
    slow = _slow_cosine("va", "vb")
    assert _analyzed(vec_df, fast) == _analyzed(vec_df, slow)
    assert _bits(vec_df, fast) == _bits(vec_df, slow)


def test_fastpath_handles_keyword_column_names(vec_df):
    kw = vec_df.selectExpr("id", "va as `order`", "vb as `case`")
    fast = L.dot_expr("order", "case", DIM)
    slow = R.dot_expr_columns("order", "case", DIM)
    assert _analyzed(kw, fast) == _analyzed(kw, slow)


def test_fastpath_handles_struct_field_names(vec_df):
    st = vec_df.select("id", F.struct(F.col("va").alias("x")).alias("s"), "vb")
    fast = L.dot_expr("s.x", "vb", DIM)
    slow = R.dot_expr_columns("s.x", "vb", DIM)
    assert _analyzed(st, fast) == _analyzed(st, slow)


def test_non_identifier_names_take_the_column_fallback(vec_df):
    """A name that is no SQL identifier (a space) parses through the
    backtick-quoted rendering to the Column chain's exact tree — there
    is no separate fallback form — and computes the same values as a
    plain rename."""
    weird = vec_df.selectExpr("id", "va as `weird name`", "vb")
    fast = L.dot_expr("weird name", "vb", DIM)
    slow = R.dot_expr_columns("weird name", "vb", DIM)
    assert _analyzed(weird, fast) == _analyzed(weird, slow)
    assert _bits(weird, fast) == _bits(weird, slow)
    assert _bits(weird, fast) == _bits(vec_df, L.dot_expr("va", "vb", DIM))


def _lit_loop(vs):
    if any(isinstance(v, (list, tuple)) for v in vs):
        return F.array(*[_lit_loop(v) for v in vs])
    return F.array(*[F.lit(float(v)) for v in vs])


@pytest.mark.parametrize(
    "values",
    [
        [0.1, -2.5, 3.25, 0.0, -0.0, 1e-308, -1.7976931348623157e308, 12345678.9],
        [[1.5, -2.0], [3.0, 4.5e-17]],
        [[[0.5, -0.25]], [[1e16, -1e-16]]],
    ],
    ids=["flat", "nested", "triple-nested"],
)
def test_lit_double_array_folds_to_identical_literal(spark, values):
    # negative literals parse via UnaryMinus, which folds at OPTIMIZE
    # time — so the pin compares optimized plans (both forms fold to one
    # Literal array carrying the exact same doubles).
    one = spark.range(1)
    fast, slow = L.lit_double_array(values), _lit_loop(values)
    assert _optimized(one, fast) == _optimized(one, slow)


def test_codes_expr_fastpath_tree_and_codes_identical(spark):
    """pq._codes_expr SQL rendering: optimized-plan equality (negative
    codeword literals parse via UnaryMinus, folded at optimize time)
    and bit-identical codes vs the per-term Column chain."""
    import manifold_spark.operators.pq as P

    rows = [(i, [float((i * 7 + d * 3) % 11) - 5.0 for d in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).selectExpr(
        "vec_id", "cast(embedding as array<float>) embedding"
    )
    cb = P.pq_codebooks(df, 8, m=2, ksub=4, iters=1)
    # the trained codebook must exercise negative codewords for the
    # UnaryMinus-folding claim to be load-bearing
    assert any(v < 0 for row in cb for cent in row for v in cent)
    fast = P._codes_expr("embedding", cb, 8)
    slow = R.codes_expr_columns("embedding", cb, 8)
    assert _optimized(df, fast) == _optimized(df, slow)
    a = [r["r"] for r in df.select(fast.alias("r")).orderBy("vec_id").collect()]
    b = [r["r"] for r in df.select(slow.alias("r")).orderBy("vec_id").collect()]
    assert a == b


def test_neg_dot_fastpath_tree_and_bits_identical(vec_df):
    """pq._neg_dot_expr SQL rendering vs the reduce chain: optimized-plan
    equality (negative coefficients parse via UnaryMinus, folded at
    optimize time) and bit-identical values."""
    import functools
    import operator

    import manifold_spark.operators.pq as P

    cvec = [0.5, -1.25, 3.0, -0.0625]
    fast = P._neg_dot_expr("va", cvec, DIM)
    slow = -functools.reduce(
        operator.add,
        (R.element("va", i) * F.lit(cvec[i - 1]) for i in range(1, DIM + 1)),
    )
    assert _optimized(vec_df, fast) == _optimized(vec_df, slow)
    assert _bits(vec_df, fast) == _bits(vec_df, slow)


def test_minhash_sig_and_band_fastpath_tree_identical(spark):
    """dedup._minhash_sigs / _minhash_band_entries F.expr rendering must
    analyze to the per-Column chain's tree, including the analyzer's
    int→bigint literal casts around the permutation constants."""
    import manifold_spark.operators.dedup as D

    sh = spark.createDataFrame([(1, 11), (1, 23), (2, 37)], ["doc_id", "h"])
    perms = D._permutation_constants(24)
    h0 = sh.withColumn("h0", F.col("h") % D._MERSENNE)
    slow_sigs = h0.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_sh"),
        *[
            (F.min((F.lit(a) * F.col("h0") + F.lit(b)) % D._MERSENNE)).alias(f"sig_{i}")
            for i, (a, b) in enumerate(perms)
        ],
    )
    fast_sigs = D._minhash_sigs(sh, 24)
    assert _norm_ids(
        fast_sigs._jdf.queryExecution().analyzed().toString()
    ) == _norm_ids(slow_sigs._jdf.queryExecution().analyzed().toString())

    rows_n = 4
    slow_bands = slow_sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.sha2(
                            F.concat_ws(
                                ",",
                                *[F.col(f"sig_{b * rows_n + r}") for r in range(rows_n)],
                            ),
                            256,
                        ).alias("key"),
                    )
                    for b in range(6)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    fast_bands = D._minhash_band_entries(fast_sigs, 24, 6)
    assert _norm_ids(
        fast_bands._jdf.queryExecution().analyzed().toString()
    ) == _norm_ids(slow_bands._jdf.queryExecution().analyzed().toString())


def test_lit_double_array_nonfinite_falls_back(spark):
    """Non-finite values go through the same one-parse literal as finite
    ones (`CAST('NaN' AS DOUBLE)` …): it folds to the `F.lit` loop's
    literal, with bit-identical values including NaN, ±Infinity and
    −0.0."""
    values = [1.0, float("nan"), float("inf"), float("-inf"), -0.0]
    one = spark.range(1)
    fast, slow = L.lit_double_array(values), _lit_loop(values)
    assert _optimized(one, fast) == _optimized(one, slow)

    def bits(col):
        r = one.select(col.alias("r")).collect()[0]["r"]
        return [struct.pack("<d", v) for v in r]

    assert bits(fast) == bits(slow) == [struct.pack("<d", v) for v in values]


@pytest.mark.parametrize(
    "value", [float("nan"), float("inf"), float("-inf")], ids=["nan", "inf", "-inf"]
)
def test_double_sql_renders_nonfinite(spark, value):
    """`double_sql` has a rendering for every double: NaN and ±Infinity
    parse to the same double instead of raising."""
    sql = L.double_sql(value)
    got = spark.range(1).select(F.expr(sql).alias("r")).collect()[0]["r"]
    if math.isnan(value):
        assert math.isnan(got)
    else:
        assert got == value
    assert struct.pack("<d", got) == struct.pack("<d", value)


# ---------------------------------------------------------------------------
# r15 single-parse fingerprints (VERDICT r14 #6): the RP-LSH packed
# fingerprint and the simhash bit-sum/pack aggregates are rendered as ONE
# SQL parse each. PySpark-generated lambda-variable names differ from the
# parser's, so these are VALUE-level pins (exact integer equality on a
# fixed corpus) rather than analyzed-tree pins — every arithmetic step is
# the same per-term double multiply chain / integer add, so values must be
# bit-identical.
# ---------------------------------------------------------------------------


def _rp_packed_columns(planes, dim: int, num_bits: int):
    """The per-bit Column-chain RP fingerprint over a staged ``__vec``:
    the form `similarity._rp_packed_expr` replaced, kept here as the
    reference it is value-pinned against (~num_bits × (dim-element
    transform + fold) Column calls)."""
    from manifold_spark.operators.similarity import _RP_SCALE

    def _bitsum(j: int):
        coef_j = L.lit_double_array([float(planes[j][d]) for d in range(dim)])
        terms = F.transform(
            F.col("__vec"),
            lambda x, i: F.floor(
                x.cast("double")
                * F.element_at(coef_j, (i + 1).cast("int"))
                * F.lit(_RP_SCALE)
                + F.lit(0.5)
            ).cast("long"),
        )
        return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)

    packed = None
    for j in range(num_bits):
        bit = F.when(_bitsum(j) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        packed = bit if packed is None else packed + bit
    return packed


def test_rp_packed_expr_equals_column_form(spark):
    from pyspark.sql import functions as F

    from manifold_spark.operators.similarity import _rp_packed_expr, rp_hyperplanes

    dim, num_bits = 8, 12
    planes = rp_hyperplanes(num_bits, dim)
    rows = [
        (1, [0.5, -0.25, 1.0, 0.0, -1.5, 2.25, -0.125, 0.75]),
        (2, [0.0] * 8),
        (3, [1e-9, -1e-9, 0.3, -0.3, 0.7, -0.7, 0.1, -0.1]),
        (4, [float(i) - 3.5 for i in range(8)]),
    ]
    df = spark.createDataFrame(rows, "vid int, emb array<double>").select(
        "vid", F.slice("emb", 1, dim).alias("__vec")
    )
    fast = {r["vid"]: r["fp"] for r in df.select(
        "vid", _rp_packed_expr(planes, dim, num_bits).alias("fp")).collect()}
    slow = {r["vid"]: r["fp"] for r in df.select(
        "vid", _rp_packed_columns(planes, dim, num_bits).alias("fp")).collect()}
    assert fast == slow


def test_rp_band_entries_unchanged_by_single_parse(spark):
    # End-to-end: the band-entry relation (vid, band, key) built through
    # the single-parse fingerprint matches a reconstruction through the
    # Column form on the sf0.001 embeddings.
    from pyspark.sql import functions as F

    from manifold_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim, num_bits, band_bits = 16, 12, 4
    entries = sim._rp_band_entries(emb, dim, num_bits, band_bits, "vec_id", "embedding")
    got = sorted(tuple(r) for r in entries.collect())

    planes = sim.rp_hyperplanes(num_bits, dim)
    staged = (
        emb.filter(F.size(F.col("embedding")) > 0)
        .select(F.col("vec_id").alias("vid"),
                F.slice(F.col("embedding"), 1, dim).alias("__vec"))
    )
    fp = staged.select("vid", _rp_packed_columns(planes, dim, num_bits).alias("fp"))
    n_bands = num_bits // band_bits
    mask = (1 << band_bits) - 1
    ref = fp.select(
        "vid",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("fp", b * band_bits).bitwiseAND(F.lit(mask)).alias("key"),
            ) for b in range(n_bands)
        ])).alias("bk"),
    ).select("vid", "bk.band", "bk.key")
    want = sorted(tuple(r) for r in ref.collect())
    assert got == want


def test_simhash_single_parse_equals_column_form(spark):
    from pyspark.sql import functions as F

    from manifold_spark.operators.dedup import normalized_tokens, simhash_fingerprints
    from manifold_spark.functions.hashing import stable_long_hash

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    num_bits = 32
    got = {
        r["doc_id"]: r["fp"]
        for r in simhash_fingerprints(docs, "text", "doc_id", num_bits).collect()
    }
    toks = docs.select(
        F.col("doc_id"),
        F.explode(normalized_tokens(F.col("text"))).alias("token"),
    )
    h = toks.withColumn("h", stable_long_hash(F.col("token")))
    bitsums = h.groupBy("doc_id").agg(
        *[R.simhash_bitsum_column(j) for j in range(num_bits)]
    )
    want = {
        r["doc_id"]: r["fp"]
        for r in bitsums.select(
            "doc_id", R.simhash_packed_column(num_bits).alias("fp")
        ).collect()
    }
    assert got == want


def test_tokenizer_extract_all_equals_replace_form(spark):
    """r15: `normalized_tokens` / `doc_fingerprint` via regexp_extract_all
    must be value-identical to the pre-r15 regexp_replace forms —
    including unicode lowering edge cases (final sigma, accents, CJK)
    and NULL/empty/punct-only inputs — on top of the corpus pins below."""
    from pyspark.sql import functions as F

    from manifold_spark.operators.dedup import normalized_tokens
    from manifold_spark.operators.textstats import doc_fingerprint

    rows = [
        (1, "Hello, World! 123"),
        (2, None),
        (3, ""),
        (4, "!!! ... ---"),
        (5, "ΟΔΟΣ ΣΟΦΙΑΣ"),          # Greek final-sigma lowering
        (6, "Café naïve façade"),     # accented letters are \p{L}
        (7, "中文mixedAbc 漢字123"),   # CJK letters
        (8, "a  b\t\nc   d"),
        (9, "Ab1!@#Cd2"),
    ]
    df = spark.createDataFrame(rows, "i int, text string")
    got = df.select("i", normalized_tokens(F.col("text")).alias("t"),
                    doc_fingerprint(F.col("text")).alias("fp")).collect()
    want = df.select("i", R.normalized_tokens_replace_form(F.col("text")).alias("t"),
                     R.doc_fingerprint_replace_form(F.col("text")).alias("fp")).collect()
    assert sorted(map(repr, got)) == sorted(map(repr, want))

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    diff = docs.select(
        (
            (normalized_tokens(F.col("text")) != R.normalized_tokens_replace_form(F.col("text")))
            | (doc_fingerprint(F.col("text")) != R.doc_fingerprint_replace_form(F.col("text")))
        ).alias("d")
    ).filter("d").count()
    assert diff == 0
