"""Behavioral tests for the LLM-data-pipeline operators: planted
duplicates must be found; exact ops must match brute-force expectations."""

import pytest
from pyspark.sql import functions as F

from manifold_spark.operators import dedup, multimodal, similarity
from manifold_spark.operators.textstats import (
    doc_fingerprint,
    language_id,
    quality_metrics,
    token_count_bpe,
    token_count_ws,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the hunter watches "
    "from the hill and the river runs cold through the valley below the ridge"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, BASE.replace("cold", "warm")),  # near dup of 1
        (4, "completely different text about spark query engines and shuffles"),
        (5, "der hund und die katze sind nicht da und das ist gut"),
        (6, "le chat est sur la table et le chien est dans le jardin"),
        (7, "一只猫在桌子上"),
        (8, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs, "text", "doc_id")
    survivors = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert survivors[1] == 2  # doc 2 collapsed into doc 1
    assert 2 not in survivors
    assert survivors[3] == 1


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in found  # exact dup: jaccard 1.0
    assert (1, 3) in found and (2, 3) in found  # one-word change
    assert all(4 not in p for p in found)  # unrelated text never pairs


def test_simhash_finds_near_dup(spark, docs):
    pairs = dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=6)
    found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert found[(1, 2)] == 0  # identical text, identical fingerprint
    assert (1, 3) in found
    assert all(4 not in k for k in found)


def test_ngram_jaccard_exact(spark, docs):
    blocked = docs.withColumn("block", F.lit("b"))
    pairs = dedup.ngram_jaccard_pairs(blocked, "text", "doc_id", ["block"], threshold=0.5)
    vals = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert vals[(1, 2)] == 1.0
    assert 0.5 < vals[(1, 3)] < 1.0


def test_ngram_jaccard_df_cap_bounds_boilerplate(spark):
    """A viral boilerplate sentence shared by EVERY doc makes the
    (block, shingle) join quadratic; the document-frequency cap must
    remove those shingles from the whole universe (pairs AND sizes) so
    only genuinely similar docs still pair."""
    boiler = "click here to subscribe to our newsletter today "
    n = 40
    rows = [(i, boiler + f"unique content number {i} about topic {i} entirely") for i in range(n)]
    # docs n and n+1: same unique tail -> genuinely similar beyond boilerplate
    rows.append((n, boiler + "identical interesting tail sentence about spark shuffles"))
    rows.append((n + 1, boiler + "identical interesting tail sentence about spark shuffles"))
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn("block", F.lit("b"))

    uncapped = dedup.ngram_jaccard_pairs(df, "text", "doc_id", ["block"], threshold=0.01)
    # every pair shares the boilerplate shingles -> quadratic pair count
    assert uncapped.count() == (n + 2) * (n + 1) // 2

    capped = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", ["block"], threshold=0.01, max_df=10
    )
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    # boilerplate-only pairs are gone; the true near-dup pair survives with
    # Jaccard computed over the capped universe (identical tails -> 1.0)
    assert found[(n, n + 1)] == 1.0
    assert all(a == n and b == n + 1 for (a, b) in found)


def test_approx_tier_tracks_exact(spark, sf_dir):
    """The sketch twins must land within their documented error of the
    exact oracle-gated queries (the 100 TB interactive swap)."""
    from manifold_spark.operators.approx import approx_distinct_users, approx_percentiles
    from manifold_spark.queries import read_events

    events = read_events(spark, sf_dir)
    exact_n = {
        r["event_type"]: r["n_users"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .collect()
    }
    for r in approx_distinct_users(events).collect():
        assert abs(r["n_users_approx"] - exact_n[r["event_type"]]) <= max(
            3, 0.05 * exact_n[r["event_type"]]
        )

    exact_p = {
        r["event_type"]: (r["p50"], r["p90"])
        for r in events.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
        )
        .collect()
    }
    for r in approx_percentiles(events).collect():
        e50, e90 = exact_p[r["event_type"]]
        spread = max(abs(e90), 1.0)
        assert abs(r["p50"] - e50) <= 0.05 * spread
        assert abs(r["p90"] - e90) <= 0.05 * spread


def test_quantize_int8_roundtrip(spark):
    """Quantized vectors must stay in [-127,127], preserve sign/zero, and
    dequantize (q/scale) to within one quantization step of the input."""
    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale 0, all-zero q
        (3, [100.0, -0.001, 3.0, 7.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in similarity.quantize_int8(df).collect()}
    assert out[2]["scale"] == 0.0 and out[2]["q"] == [0, 0, 0, 0]
    for vid, emb in [(1, rows[0][1]), (3, rows[2][1])]:
        scale, q = out[vid]["scale"], out[vid]["q"]
        assert max(abs(v) for v in q) == 127  # absmax element saturates
        for orig, qi in zip(emb, q):
            assert abs(qi) <= 127
            assert abs(qi / scale - orig) <= 0.5 / scale + 1e-9


def test_contamination_check_flags_ngram_overlap(spark):
    """A training doc sharing a 5-gram with the benchmark is flagged with
    the right collision count; disjoint docs are not."""
    bench = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words the secret benchmark answer is forty two exactly suffix"),
            (2, "completely unrelated training text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_shared"] for r in
           dedup.contamination_check(train, bench, "text", "doc_id", shingle_n=5).collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out


def test_dedup_components_transitive_chain(spark):
    """A chain A-B, B-C, plus D-E, plus a singleton: components must close
    transitively (A,B,C share one cluster) and the cluster id is the min
    member; untouched docs cluster alone."""
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    out = {r["doc_id"]: r["cluster_id"] for r in dedup.dedup_components(ids, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_topk_bruteforce_self_similarity(spark):
    import math

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),  # nearly parallel to 1
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite to 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.topk_bruteforce(emb.filter("vec_id = 1"), emb, dim=4, k=3)
    ranked = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert ranked == [2, 3, 4]
    cos = {r["neighbor_id"]: r["cosine"] for r in out.collect()}
    assert math.isclose(cos[2], 1 / math.sqrt(1 + 0.01**2), rel_tol=1e-6)
    assert cos[3] == 0.0 and cos[4] == -1.0


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF with nprobe=4/16 must recover most of the exact top-5."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 8")
    exact = similarity.topk_bruteforce(queries, emb, 64, k=5)
    approx = similarity.topk_ivf(queries, emb, 64, k=5, n_centroids=16, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_lists_reuse_matches_inline(spark, sf_dir):
    """r7 (VERDICT r6 #5): pre-materialized inverted lists (the
    persist-once production layout) must give the identical result to the
    in-plan assignment, and passing lists without the centroids that
    built them must be rejected."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 8")
    cents = emb.orderBy("vec_id").limit(16)
    lists = similarity.assign_centroids(emb, cents, 64).persist()
    inline = sorted(
        tuple(r)
        for r in similarity.topk_ivf(
            queries, emb, 64, k=5, nprobe=4, centroids=cents
        ).collect()
    )
    reused = sorted(
        tuple(r)
        for r in similarity.topk_ivf(
            queries, emb, 64, k=5, nprobe=4, centroids=cents, lists=lists
        ).collect()
    )
    lists.unpersist()
    assert reused == inline
    with _pytest.raises(ValueError):
        similarity.topk_ivf(queries, emb, 64, k=5, lists=lists)


def test_rp_lsh_near_dup_subset_and_deterministic(spark, sf_dir):
    """RP-LSH pairs must be a SUBSET of the exact >=threshold pair set
    (the verify stage guarantees precision 1.0; LSH only costs recall),
    and two runs must be identical (md5-derived hyperplanes, integer bit
    sums — no RNG, no float-order dependence)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r["id_a"], r["id_b"]) for r in
        similarity.rp_lsh_near_dup(emb, 64, threshold=0.2).collect()
    }
    again = {
        (r["id_a"], r["id_b"]) for r in
        similarity.rp_lsh_near_dup(emb, 64, threshold=0.2).collect()
    }
    assert got == again
    # exact ground truth via the unblocked pairwise cosine
    a = emb.selectExpr("vec_id AS id_a", "embedding AS va")
    b = emb.selectExpr("vec_id AS id_b", "embedding AS vb")
    from manifold_spark.operators.linalg import cosine_expr
    exact = {
        (r["id_a"], r["id_b"]) for r in
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_expr("va", "vb", 64).alias("c"))
        .filter(F.col("c") >= 0.2)
        .collect()
    }
    assert got <= exact
    assert got, "RP-LSH found no pairs at all — banding is broken"


def test_language_id(spark, docs):
    out = {r["doc_id"]: r["pred"] for r in docs.select("doc_id", language_id(F.col("text")).alias("pred")).collect()}
    assert out[1] == "en"
    assert out[5] == "de"
    assert out[6] == "fr"
    assert out[7] == "zh"
    assert out[8] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame([("hello, world! 42",), ("",), ("   ",)], "text string")
    rows = df.select(
        token_count_ws(F.col("text")).alias("ws"),
        token_count_bpe(F.col("text")).alias("bpe"),
    ).collect()
    assert rows[0]["ws"] == 3
    # hello , world ! 4 2 → 6 BPE-ish tokens (digits split singly)
    assert rows[0]["bpe"] == 6
    assert rows[1]["ws"] == 0 and rows[2]["ws"] == 0


def test_quality_metrics(spark):
    df = spark.createDataFrame([("the cat!!!",)], "text string")
    m = quality_metrics(F.col("text"))
    row = df.select(*[c.alias(k) for k, c in m.items()]).collect()[0]
    assert row["n_tokens"] == 2
    assert row["n_chars"] == 10
    assert row["punct_ratio"] == 0.3  # 3 of 10 chars
    assert 0 < row["quality_score"] <= 1.4


def test_doc_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta alpha"), (3, "alpha beta delta")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", doc_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2]  # word order + repetition invariant
    assert fps[1] != fps[3]


def test_multimodal_plumbing(spark, docs):
    with_bin = multimodal.attach_binary(docs.filter("doc_id <= 4"))
    feats = multimodal.extract_media_features(with_bin)
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert len(rows) == 4
    r1 = rows[1]
    assert r1["byte_len"] == len(BASE.encode())
    assert len(r1["features"]) == 16
    assert abs(sum(r1["features"]) - 1.0) < 1e-6  # normalized histogram
    assert rows[1]["width"] == rows[2]["width"]  # deterministic fake decode


def test_asof_join_atomic_right_row(spark):
    """The carried right columns must come from ONE right row — a later
    right row with a legitimate NULL payload must deliver that NULL, not
    a value resurrected from an earlier row."""
    from manifold_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-03 00:00:00", 100)], "k int, ts string, lv int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10.0, "EUR"),
            (1, "2024-01-02 00:00:00", 20.0, None),  # newest: NULL currency
        ],
        "k int, ts string, price double, currency string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = asof_join(left, right, on="ts", by=["k"], right_cols=["price", "currency"]).collect()
    assert len(out) == 1
    assert out[0]["price_asof"] == 20.0
    assert out[0]["currency_asof"] is None  # NOT 'EUR' from the older row


def test_stage_asset_dedups_business_key(spark):
    """A contract listed twice in one batch with different attributes must
    yield ONE staging row (deterministic survivor), keeping the SCD2
    unique-active invariant reachable."""
    from manifold_spark.stage import stage_asset
    from manifold_spark.schema import STAGING_COLUMNS

    rows = []
    for price in (100.0, 200.0):
        rows.append(
            ("C1", "PT", "L", "A", "t", "d", price, "House", 1.0, 2.0, 80.0, 38.0, -9.0)
        )
    rows.append(("C2", "PT", "L", "A", "t", "d", 300.0, "House", 1.0, 2.0, 80.0, 38.0, -9.0))
    df = spark.createDataFrame(
        rows,
        "contract_number string, country string, county string, parish string,"
        "title string, description string, price double, property_type string,"
        "bathrooms double, bedrooms double, area_net double, latitude double, longitude double",
    )
    staged = stage_asset(df)
    assert staged.count() == 2  # C1 collapsed to one survivor
    assert staged.filter("contract_number = 'C1'").count() == 1
    # survivor choice is deterministic across runs
    a = staged.filter("contract_number = 'C1'").collect()[0]["hash"]
    b = stage_asset(df).filter("contract_number = 'C1'").collect()[0]["hash"]
    assert a == b


def test_stage_dimension_minby_equals_distinct_window(spark):
    """r14 internals pin: the fused min_by survivor pick must equal the
    pre-r14 distinct + per-key row_number reference on a frame with
    duplicate keys, full-row duplicates AND a NULL key."""
    from pyspark.sql import Window

    from manifold_spark.stage import stage_dimension, with_fingerprint

    rows = [
        ("K1", "a", 1.0), ("K1", "b", 2.0), ("K1", "b", 2.0),  # dup key + dup row
        ("K2", "c", 3.0),
        (None, "d", 4.0), (None, "e", 5.0),  # NULL key groups together
    ]
    df = spark.createDataFrame(rows, "k string, attr string, val double")
    cols = ["k", "attr", "val"]

    fused = stage_dimension(df, cols, unique_keys=["k"])

    ref = with_fingerprint(df.select(*cols).distinct(), cols)
    w = Window.partitionBy("k").orderBy("hash")
    ref = (
        ref.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    assert fused.columns == ref.columns
    assert fused.exceptAll(ref).count() == 0
    assert ref.exceptAll(fused).count() == 0


def test_fingerprint_null_safe(spark):
    from manifold_spark.functions.hashing import fingerprint

    df = spark.createDataFrame([(None, "x"), ("x", None)], "a string, b string")
    plain = df.select(fingerprint([F.col("a"), F.col("b")]).alias("h")).collect()
    assert plain[0]["h"] == plain[1]["h"]  # reference semantics: collides
    safe = df.select(fingerprint([F.col("a"), F.col("b")], null_safe=True).alias("h")).collect()
    assert safe[0]["h"] != safe[1]["h"]


def test_kmeans_ivf_recall(spark, sf_dir):
    """Lloyd-refined IVF must reach at least the deterministic-subset
    quantizer's recall, and both runs must be identical (determinism)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 8")
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.topk_bruteforce(queries, emb, 64, k=5).collect()}
    km = similarity.topk_ivf_kmeans(queries, emb, 64, k=5, n_centroids=16, nprobe=4)
    a = {(r["query_id"], r["neighbor_id"]) for r in km.collect()}
    recall = len(exact & a) / len(exact)
    assert recall >= 0.5, f"kmeans-IVF recall too low: {recall}"
    b = {(r["query_id"], r["neighbor_id"])
         for r in similarity.topk_ivf_kmeans(queries, emb, 64, k=5, n_centroids=16, nprobe=4).collect()}
    assert a == b  # deterministic centroids -> identical results


def test_kmeans_sampled_training_recall(spark, sf_dir):
    """Sample-trained Lloyd (the 100 TB path): centroids trained on a
    deterministic hash-sample must still give a usable quantizer — full
    k-row codebook, valid IVF recall vs brute force, and reproducible."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id < 8")

    cent = similarity.kmeans_centroids(emb, 64, k=16, iters=2, sample_fraction=0.5)
    rows = cent.collect()
    assert len(rows) == 16 and all(len(r["cent_vec"]) == 64 for r in rows)

    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.topk_bruteforce(queries, emb, 64, k=5).collect()}
    km = similarity.topk_ivf_kmeans(
        queries, emb, 64, k=5, n_centroids=16, nprobe=4, sample_fraction=0.5
    )
    a = {(r["query_id"], r["neighbor_id"]) for r in km.collect()}
    recall = len(exact & a) / len(exact)
    assert recall >= 0.5, f"sampled kmeans-IVF recall too low: {recall}"

    # deterministic: same sample gate -> identical centroids
    rows2 = similarity.kmeans_centroids(
        emb, 64, k=16, iters=2, sample_fraction=0.5
    ).collect()
    assert sorted(map(str, rows)) == sorted(map(str, rows2))


def test_frame_sampling(spark, docs):
    with_bin = multimodal.attach_binary(docs.filter("doc_id IN (1, 4)"))
    frames = multimodal.sample_frames(with_bin, n_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 4}
    f1 = sorted(by_doc[1], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in f1] == [0, 1, 2, 3]
    import hashlib
    assert all(hashlib.sha256(bytes(r["frame_bytes"])).hexdigest() == r["frame_sha"] for r in f1)
    # deterministic across runs
    again = multimodal.sample_frames(multimodal.attach_binary(docs.filter("doc_id IN (1, 4)")), 4).collect()
    assert sorted((r["doc_id"], r["frame_idx"], r["frame_sha"]) for r in again) == \
           sorted((r["doc_id"], r["frame_idx"], r["frame_sha"]) for r in frames)


def test_media_manifest(spark, docs):
    with_bin = multimodal.attach_binary(docs.filter("doc_id <= 3"))
    man = multimodal.media_manifest(with_bin, "s3a://corpus/media").collect()
    assert len(man) == 3
    assert all(r["uri"].startswith("s3a://corpus/media/") and r["uri"].endswith(".bin") for r in man)
    assert all(r["byte_len"] >= 0 and len(r["content_sha"]) == 64 for r in man)


def test_probe_media_meta(spark, docs):
    with_bin = multimodal.attach_binary(docs.filter("doc_id <= 6"))
    rows = {r["doc_id"]: r for r in multimodal.probe_media_meta(with_bin).collect()}
    src = {r["doc_id"]: r["byte_len"] for r in with_bin.collect()}
    assert set(rows) == set(src)
    for doc_id, n in src.items():
        r = rows[doc_id]
        assert r["byte_len"] == n
        if n % 2 == 0:
            assert r["kind"] == "audio"
            assert r["sample_rate"] in (16000, 22050, 44100) and r["channels"] in (1, 2)
            assert r["width"] == r["height"] == r["fps"] == r["n_frames"] == -1
            assert r["duration_ms"] == (n * 500) // (r["sample_rate"] * r["channels"])
        else:
            assert r["kind"] == "video"
            assert r["sample_rate"] == r["channels"] == -1
            assert r["width"] >= 256 and r["height"] >= 144 and r["fps"] in (24, 25, 30)
            assert r["duration_ms"] == (r["n_frames"] * 1000) // r["fps"]


def test_chunk_ranges_math(spark):
    rows = [(1, "A" * 250), (2, ""), (3, "B" * 100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with_bin = multimodal.attach_binary(df)
    man = multimodal.media_manifest(with_bin, "s3://m")
    out = {}
    for r in multimodal.chunk_ranges(man, 100).collect():
        out.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["offset"], r["length"]))
    for v in out.values():
        v.sort()
    # 250 bytes -> 100+100+50; empty -> one zero-length chunk; 100 -> one exact chunk
    assert out[1] == [(0, 0, 100), (1, 100, 100), (2, 200, 50)]
    assert out[2] == [(0, 0, 0)]
    assert out[3] == [(0, 0, 100)]


def test_slice_chunks_reassemble(spark, docs):
    """The byte-range math must reassemble: concat(chunks) == content."""
    with_bin = multimodal.attach_binary(docs.filter("doc_id <= 4"))
    original = {r["doc_id"]: bytes(r["content"]) for r in with_bin.collect()}
    parts: dict[int, list] = {}
    for r in multimodal.slice_chunks(with_bin, 37).collect():
        parts.setdefault(r["doc_id"], []).append((r["chunk_idx"], bytes(r["chunk"])))
    for doc_id, chunks in parts.items():
        joined = b"".join(c for _, c in sorted(chunks))
        assert joined == original[doc_id], doc_id
    assert set(parts) == set(original)


def test_redact_pii(spark):
    from manifold_spark.operators.textstats import redact_pii

    rows = [
        (1, "contact me at john.doe+spam@example.co.uk or +351 912 345 678 today"),
        (2, "see https://example.com/path?q=1 and email x@y.io"),
        (3, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["t"] for r in df.select("doc_id", redact_pii(F.col("text")).alias("t")).collect()}
    assert "<EMAIL>" in out[1] and "<PHONE>" in out[1]
    assert "john" not in out[1] and "912" not in out[1]
    assert out[2] == "see <URL> and email <EMAIL>"
    assert out[3] == rows[2][1]


def test_asof_null_ts_and_collisions(spark):
    from manifold_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, None, 5.0), (1, "2024-06-01 00:00:00", 7.0)], "k int, ts string, price double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    # NULL-ts right row must never match (DuckDB ASOF semantics)
    out = asof_join(left, right, on="ts", by=["k"], right_cols=["price"]).collect()
    assert out[0]["price_asof"] is None
    # output-name collision is rejected up front
    bad_left = left.withColumn("ts_asof", F.lit(1))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="collide"):
        asof_join(bad_left, right, on="ts", by=["k"])


def test_kmeans_custom_column_names(spark, sf_dir):
    """The quantizer must work with non-default id/vector column names."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vec")
    )
    cent = similarity.kmeans_centroids(emb, 64, k=4, iters=1, id_col="doc_id", vec_col="vec")
    rows = cent.collect()
    assert len(rows) == 4 and all(len(r["cent_vec"]) == 64 for r in rows)


def test_hash_sampling_properties(spark, sf_dir):
    from manifold_spark.operators.sampling import hash_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    s20 = hash_sample(docs, "doc_id", 0.2)
    s10 = hash_sample(docs, "doc_id", 0.1)
    # reproducible: two runs keep identical rows
    a = {r["doc_id"] for r in s20.collect()}
    b = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2).collect()}
    assert a == b
    # nested: the 10% sample is a subset of the 20% sample
    assert {r["doc_id"] for r in s10.collect()} <= a
    # roughly proportional
    assert 0.1 * n < len(a) < 0.35 * n
    # different seed -> different subset
    c = {r["doc_id"] for r in hash_sample(docs, "doc_id", 0.2, seed=9).collect()}
    assert a != c


def test_pack_documents(spark):
    from manifold_spark.operators.sampling import pack_documents

    rows = [(i, 600) for i in range(10)] + [(100, 5000)]  # one oversized doc
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    packed = pack_documents(df, "doc_id", "n_tok", budget=2048, shard_col=F.lit(0))
    out = {r["doc_id"]: r for r in packed.collect()}
    # budget-targeted chunking: doc 3 starts at cum 1800 (< 2048) so it
    # STAYS in bin 0 (overshoot bounded by one doc); doc 4 starts at 2400
    assert [out[i]["bin_id"] for i in range(10)] == [0, 0, 0, 0, 1, 1, 1, 2, 2, 2]
    # oversized doc capped at the budget (consumes one budget window)
    assert out[100]["n_tokens"] == 2048
    # overshoot bound: every bin total < budget + max doc size
    import collections
    totals = collections.Counter()
    for r in out.values():
        totals[r["bin_id"]] += r["n_tokens"]
    assert all(v < 2048 + 2048 for v in totals.values())
    # removing each bin's LAST doc (by id) always fits the budget
    by_bin = collections.defaultdict(list)
    for r in out.values():
        by_bin[r["bin_id"]].append((r["doc_id"], r["n_tokens"]))
    for docs_in_bin in by_bin.values():
        docs_in_bin.sort()
        assert sum(t for _, t in docs_in_bin[:-1]) < 2048


def test_sniff_media_kind_magic_bytes(spark):
    """Known container signatures classify correctly; everything else is
    'unknown' — including short and empty payloads."""
    from manifold_spark.operators.multimodal import classify_media

    rows = [
        (1, bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, 1, 2])),
        (2, bytes([0xFF, 0xD8, 0xFF, 0xE0]) + b"JFIF"),
        (3, b"GIF89a" + bytes(4)),
        (4, b"RIFF" + bytes(4) + b"WAVE"),
        (5, b"%PDF-1.7"),
        (6, b"PK\x03\x04rest"),
        (7, b"plain text bytes"),
        (8, b""),
        (9, b"\xff"),  # shorter than any signature
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r["doc_id"]: r["media_kind"] for r in classify_media(df).collect()}
    assert out == {
        1: "png", 2: "jpeg", 3: "gif", 4: "riff", 5: "pdf", 6: "zip",
        7: "unknown", 8: "unknown", 9: "unknown",
    }


def test_ewma_by_user_matches_recurrence(spark, sf_dir):
    """Grouped-map EWMA must equal the hand-rolled recurrence per user,
    regardless of partition layout."""
    from manifold_spark.operators.sequential import ewma_by_user
    from manifold_spark.queries import read_events

    events = read_events(spark, sf_dir).filter("user_id < 10")
    out = ewma_by_user(events.repartition(7), alpha=0.3).collect()

    rows = sorted(
        events.select("user_id", "event_id", "ts", "value").collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    expected = {}
    state = {}
    for r in rows:
        u = r["user_id"]
        prev = state.get(u)
        cur = r["value"] if prev is None else 0.3 * r["value"] + 0.7 * prev
        state[u] = cur
        expected[(u, r["event_id"])] = cur
    assert len(out) == len(rows)
    for r in out:
        assert abs(r["ewma"] - expected[(r["user_id"], r["event_id"])]) < 1e-9


def test_span_dedup_detects_and_scrubs_shared_span(spark):
    """r7: span-level exact dedup (Lee et al. ExactSubstr shape). Two
    docs share an exact 6-token run inside otherwise-unique text: every
    window inside the run (and only those) must be flagged in BOTH docs,
    the covered tokens scrubbed, and unique/short docs left untouched."""
    span = "the quick brown fox jumps high"  # 6 tokens, n=4 -> 3 windows
    rows = [
        (1, f"alpha beta gamma {span} delta epsilon"),
        (2, f"one two three four {span} five six seven"),
        (3, "totally unique text with nothing repeated anywhere at all"),
        (4, "too short"),  # < n tokens -> zero windows
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.span_dedup(docs, "text", "doc_id", n=4).collect()}

    # Docs 1 and 2: exactly the 3 windows fully inside the shared 6-token
    # run are duplicated (windows straddling the run boundary differ),
    # covering exactly the 6 run tokens.
    for d in (1, 2):
        assert out[d]["n_dup_windows"] == 3, out[d]
        assert out[d]["dup_tokens"] == 6, out[d]
        assert "quick brown" not in out[d]["text_kept"]
    assert out[1]["text_kept"] == "alpha beta gamma delta epsilon"
    assert out[2]["text_kept"] == "one two three four five six seven"

    assert out[3]["n_dup_windows"] == 0
    assert out[3]["dup_tokens"] == 0
    assert out[3]["text_kept"].startswith("totally unique")
    assert out[4]["n_windows"] == 0
    assert out[4]["n_dup_windows"] == 0
    assert out[4]["text_kept"] == "too short"
    dedup.release_shingle_caches()


def test_span_dedup_within_doc_repeat_counts(spark):
    """A span repeated WITHIN one document counts toward min_count (the
    corpus-occurrence test, not a distinct-doc test) — self-repetition
    is exactly what training-data span dedup must catch."""
    rep = "spam spam wonderful spam"  # repeated twice inside one doc
    docs = spark.createDataFrame(
        [(1, f"{rep} interlude text here {rep}"),
         (2, "independent filler document with no repeats")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.span_dedup(docs, "text", "doc_id", n=4).collect()}
    assert out[1]["n_dup_windows"] == 2  # one window per occurrence
    assert out[1]["dup_tokens"] == 8
    assert out[2]["n_dup_windows"] == 0
    dedup.release_shingle_caches()


def test_span_dedup_matches_pure_python(spark):
    """Cross-implementation pin (the simhash/PQ-encode style test): the
    Spark span_dedup must equal an independent pure-Python reference —
    same md5-derived window hashes, same corpus-occurrence >= min_count
    test, same covered-position union and scrub — for every doc of a
    seeded random corpus whose tiny vocabulary forces cross-doc and
    within-doc span repeats."""
    import hashlib
    import random
    import re

    N, MIN_COUNT = 3, 2
    rng = random.Random(777)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 14))))
        for i in range(40)
    ]

    def ref(rows):
        def toks(text):
            return [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split() if t]

        def h(gram):
            return int(hashlib.md5(("0" + gram).encode()).hexdigest()[:15], 16)

        per_doc = {}
        counts = {}
        for doc_id, text in rows:
            ts = toks(text)
            hs = [h(" ".join(ts[i : i + N])) for i in range(len(ts) - N + 1)]
            per_doc[doc_id] = (ts, hs)
            for v in hs:
                counts[v] = counts.get(v, 0) + 1
        out = {}
        for doc_id, (ts, hs) in per_doc.items():
            starts = [i for i, v in enumerate(hs) if counts[v] >= MIN_COUNT]
            cov = {p for s in starts for p in range(s, s + N)}
            kept = [t for i, t in enumerate(ts) if i not in cov]
            out[doc_id] = (
                len(ts), len(hs), len(starts), len(cov),
                len(cov) / max(len(ts), 1), " ".join(kept),
            )
        return out

    expected = ref(rows)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_windows"], r["n_dup_windows"],
            r["dup_tokens"], r["dup_frac"], r["text_kept"],
        )
        for r in dedup.span_dedup(docs, "text", "doc_id", n=N, min_count=MIN_COUNT).collect()
    }
    assert got == expected
    dedup.release_shingle_caches()


def test_span_dedup_min_span_tokens(spark):
    """r8 ExactSubstr length criterion: with min_span_tokens, covered
    runs shorter than the floor are left unscrubbed while the raw
    duplicated-window telemetry is unchanged; a floor ≤ n is a no-op."""
    long_span = "l1 l2 l3 l4 l5 l6 l7 l8"  # 8-token shared run
    short_span = "s1 s2 s3 s4 s5 s6"  # 6-token shared run
    rows = [
        (1, f"ua ub {long_span} uc ud {short_span} ue uf"),
        (2, f"va vb {long_span} vc vd {short_span} ve vf"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    base = {r["doc_id"]: r for r in dedup.span_dedup(docs, n=4).collect()}
    noop = {r["doc_id"]: r for r in
            dedup.span_dedup(docs, n=4, min_span_tokens=4).collect()}
    assert {d: r.asDict() for d, r in base.items()} == {
        d: r.asDict() for d, r in noop.items()
    }
    # both runs qualify at 6, only the 8-token run at 8, none at 9
    at6 = {r["doc_id"]: r for r in
           dedup.span_dedup(docs, n=4, min_span_tokens=6).collect()}
    at8 = {r["doc_id"]: r for r in
           dedup.span_dedup(docs, n=4, min_span_tokens=8).collect()}
    at9 = {r["doc_id"]: r for r in
           dedup.span_dedup(docs, n=4, min_span_tokens=9).collect()}
    for d in (1, 2):
        assert base[d]["dup_tokens"] == 14 and at6[d]["dup_tokens"] == 14
        assert at8[d]["dup_tokens"] == 8
        assert "l1" not in at8[d]["text_kept"]
        assert "s1 s2 s3 s4 s5 s6" in at8[d]["text_kept"]
        assert at9[d]["dup_tokens"] == 0
        # telemetry stays raw: 5 windows in the 8-run + 3 in the 6-run
        for out in (at6, at8, at9):
            assert out[d]["n_dup_windows"] == base[d]["n_dup_windows"] == 8
    dedup.release_shingle_caches()


def test_span_dedup_scope_within(spark):
    """r8 scope_col (cross_scope=False): duplicates count within one
    scope only — a span shared ACROSS sources is not flagged, a span
    repeated within one source is."""
    span = "w1 w2 w3 w4 w5"
    rows = [
        (1, "a", f"p q {span} r s"),
        (2, "b", f"t u {span} v x"),  # cross-source twin: must NOT flag
        (3, "a", f"y z {span} zz zy"),  # same-source twin of doc 1: flags
        (4, "b", "nothing shared in this one at all ok"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r["doc_id"]: r for r in
           dedup.span_dedup(docs, n=4, scope_col="source").collect()}
    assert out[1]["n_dup_windows"] == 2 and out[3]["n_dup_windows"] == 2
    assert out[2]["n_dup_windows"] == 0  # its only twin lives in scope 'a'
    assert out[4]["n_dup_windows"] == 0
    dedup.release_shingle_caches()


def test_span_dedup_scope_cross(spark):
    """r8 cross_scope=True: a window flags only when it appears in
    ≥ min_count DISTINCT scopes — within-source repetition alone is
    exempt (the shared-boilerplate-across-sites detector)."""
    span = "c1 c2 c3 c4 c5"
    rows = [
        (1, "a", f"p q {span} r s"),
        (2, "a", f"t u {span} v x"),  # same-source repeat: exempt
        (3, "b", f"y z {span} zz zy"),  # second scope: now flags everywhere
        (4, "b", "unique filler text with no shared runs here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r["doc_id"]: r for r in
           dedup.span_dedup(docs, n=4, scope_col="source",
                            cross_scope=True).collect()}
    for d in (1, 2, 3):
        assert out[d]["n_dup_windows"] == 2, out[d]
    assert out[4]["n_dup_windows"] == 0

    # within-source only (drop doc 3): nothing crosses scopes -> no flags
    solo = {r["doc_id"]: r for r in
            dedup.span_dedup(docs.filter("doc_id != 3"), n=4,
                             scope_col="source", cross_scope=True).collect()}
    assert all(solo[d]["n_dup_windows"] == 0 for d in (1, 2, 4))
    dedup.release_shingle_caches()


def test_operator_cache_scope_nests_and_releases(spark):
    """The r7 scoped cache registry: frames persisted inside a scope are
    unpersisted on exit (success or error), an inner scope releases only
    its own caches, and the escape-hatch function still drains whatever
    remains. Stage boundaries are registered too, and released by kind:
    a boundary's checkpointed RDD leaves the block manager."""
    from manifold_spark.operators.dedup import (
        _SHINGLE_CACHES,
        _persist_tracked,
        operator_cache_scope,
        release_shingle_caches,
    )
    from manifold_spark.plans.boundary import stage_boundary

    def stored_rdd_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    def boundary():
        """One eager boundary; returns its checkpointed RDD's id."""
        pinned = stage_boundary(df.selectExpr("id * 5 AS v"), eager=True)
        rdd_id = pinned._jdf.queryExecution().analyzed().rdd().id()
        assert rdd_id in stored_rdd_ids()
        return rdd_id

    release_shingle_caches()
    df = spark.range(10)
    with operator_cache_scope():
        outer = _persist_tracked(df.selectExpr("id * 2 AS v"))
        outer.count()
        with operator_cache_scope():
            inner = _persist_tracked(df.selectExpr("id * 3 AS v"))
            inner.count()
            assert len(_SHINGLE_CACHES) == 2
        # inner scope released ONLY its own cache
        assert len(_SHINGLE_CACHES) == 1
        assert inner.storageLevel.useMemory is False
        assert outer.storageLevel.useMemory is True
        rdd_id = boundary()
        assert len(_SHINGLE_CACHES) == 2
    assert len(_SHINGLE_CACHES) == 0
    assert outer.storageLevel.useMemory is False
    assert rdd_id not in stored_rdd_ids()
    # error path still releases
    try:
        with operator_cache_scope():
            _persist_tracked(df.selectExpr("id AS v")).count()
            rdd_id = boundary()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert len(_SHINGLE_CACHES) == 0
    assert rdd_id not in stored_rdd_ids()


def test_semdedup_keep_rule(spark):
    """Crafted corpus: two exact-duplicate groups + distinct vectors.
    Within each duplicate neighborhood the member with the LOWEST cosine
    similarity to its cluster centroid survives (ties break on smaller
    id); vectors with no above-threshold neighbor are all kept."""
    import math

    dim = 4

    def unit(theta_deg):
        t = math.radians(theta_deg)
        return [math.cos(t), math.sin(t), 0.0, 0.0]

    rows = [
        # near-dup fan around 0 deg (pairwise cosine > 0.99)
        (0, unit(0.0)),
        (1, unit(2.0)),
        (2, unit(4.0)),
        # isolated direction
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<float>"
    )
    out = similarity.semdedup(df, dim, n_clusters=2, iters=1, threshold=0.99)
    got = {r["vec_id"]: r["is_kept"] for r in out.collect()}
    assert len(got) == 5
    # isolated vectors always survive
    assert got[3] == 1 and got[4] == 1
    # the 0/1/2 fan is mutually above-threshold: exactly the
    # lowest-(cent_sim, id) member survives
    assert sum(got[i] for i in (0, 1, 2)) == 1

    # all-orthogonal corpus: nothing dropped
    eye = spark.createDataFrame(
        [(i, [1.0 if j == i else 0.0 for j in range(dim)]) for i in range(dim)],
        "vec_id long, embedding array<float>",
    )
    kept = similarity.semdedup(eye, dim, n_clusters=2, iters=1, threshold=0.9)
    assert [r["is_kept"] for r in kept.collect()] == [1] * dim


def test_bloom_no_false_negatives_and_fp_bounded(spark):
    m_bits, k = 1 << 12, 5
    seen = spark.createDataFrame(
        [(f"key-{i}",) for i in range(200)], "fp string"
    )
    bloom = dedup.bloom_build(seen, "fp", m_bits=m_bits, k=k)
    # bitmap is bounded by m/32 words regardless of key count
    assert bloom.count() <= m_bits // 32
    probe = spark.createDataFrame(
        [(f"key-{i}",) for i in range(400)], "fp string"
    )
    got = {
        r["fp"]: r["might_contain"]
        for r in dedup.bloom_might_contain(probe, "fp", bloom, m_bits, k).collect()
    }
    # Bloom contract: every inserted key hits
    assert all(got[f"key-{i}"] == 1 for i in range(200))
    # unseen keys: false positives exist but are rare at this fill rate
    # ((1 - e^(-5*200/4096))^5 ~= 4e-4)
    fps = sum(got[f"key-{i}"] for i in range(200, 400))
    assert fps <= 5


def test_bloom_shard_merge_is_reaggregation(spark):
    """Two shard bitmaps union+bit_or to exactly the whole-set bitmap —
    the multi-shard / incremental merge story."""
    from pyspark.sql import functions as F

    m_bits, k = 1 << 10, 3
    a = spark.createDataFrame([(f"a-{i}",) for i in range(50)], "fp string")
    b = spark.createDataFrame([(f"b-{i}",) for i in range(50)], "fp string")
    whole = dedup.bloom_build(a.union(b), "fp", m_bits=m_bits, k=k)
    merged = (
        dedup.bloom_build(a, "fp", m_bits=m_bits, k=k)
        .union(dedup.bloom_build(b, "fp", m_bits=m_bits, k=k))
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))


def test_bloom_dedup_flags_duplicate_text(spark):
    rows = [
        (0, "alpha beta gamma"),   # seen (even)
        (1, "alpha beta gamma"),   # odd, duplicates seen text -> flagged
        (2, "delta epsilon zeta"), # seen
        (3, "unique new text"),    # genuinely new
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    seen = docs.filter("doc_id % 2 = 0")
    got = {
        r["doc_id"]: (r["might_contain"], r["is_new"])
        for r in dedup.bloom_dedup_flags(docs, seen, m_bits=1 << 12).collect()
    }
    assert got[0] == (1, 0) and got[2] == (1, 0)
    assert got[1] == (1, 0)  # duplicate content caught without its id
    assert got[3] == (0, 1)


def test_bloom_index_upsert_matches_one_shot(spark):
    """Batch-split Bloom state == one-shot build; flags match what the
    one-shot `bloom_dedup_flags` would say about each batch vs its past."""
    rows = [(i, f"text number {i % 30}") for i in range(90)]  # heavy dups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m, k = 1 << 12, 5

    bloom = None
    flagged = {}
    for lo, hi in ((0, 30), (30, 60), (60, 90)):
        batch = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        flags, bloom = dedup.bloom_index_upsert(batch, bloom, m_bits=m, k=k)
        flags = flags.localCheckpoint(eager=True)
        bloom = bloom.localCheckpoint(eager=True)
        flagged.update({r["doc_id"]: r["might_contain"] for r in flags.collect()})

    # one-shot reference state over the full corpus
    from manifold_spark.functions.hashing import stable_long_hash

    fps = df.select(stable_long_hash(F.col("text")).cast("string").alias("fp"))
    whole = dedup.bloom_build(fps, "fp", m_bits=m, k=k)
    assert sorted(map(tuple, bloom.collect())) == sorted(map(tuple, whole.collect()))

    # batch 1 (ids 0-29): all first occurrences -> not flagged
    assert all(flagged[i] == 0 for i in range(30))
    # batches 2-3 repeat the same 30 texts -> every row flagged
    assert all(flagged[i] == 1 for i in range(30, 90))
