"""Extension operators (LLM-data-pipeline surface) + their driver-gate
registration.

Each query below registers into `manifold_spark.queries.REGISTRY`. Oracle
SQL is GENERATED from the same module constants the Spark side uses
(marker lists, regex patterns, permutation/hyperplane constants, vector
dims, centroid counts), so the two sides cannot drift. EVERY key has a
full oracle — the banded-LSH pipelines, the Arrow decode stub, the
unrolled Lloyd rounds, and the recursive-CTE components included — so
the driver's strongest rows+schema+hash check covers 100% of the
registry (only the Structured Streaming twins live outside the gate, by
nature).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from manifold_spark.operators import dedup, multimodal, pq, similarity, textstats
from manifold_spark.functions.numeric import decimal_sum
from manifold_spark.operators.linalg import cosine_sql, dot_sql
from manifold_spark.queries import _t, register
from manifold_spark.streaming.jobs import hourly_rollup, sessionize

DIM = 64  # embeddings table vector width
N_QUERIES = 8  # vec_id < 8 are the query vectors in the similarity checks
TOP_K = 5
IVF_CENTROIDS = 16
IVF_NPROBE = 4

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT min(doc_id) AS doc_id,
           sha256(text) AS content_hash,
           count(*) AS dup_count,
           arg_min(lang, doc_id) AS lang,
           arg_min(source, doc_id) AS source
    FROM documents
    GROUP BY sha256(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup + survivor payload in one gate (r6 fold of the former
    `dedup_survivors` key): the hash group-by picks min-id survivors AND
    carries their (lang, source) payload through the same aggregate
    (min_by ≡ arg_min) — the full "drop duplicates, keep the original
    rows" flow in one shuffle, pinned by test_plans.py."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id", payload_cols=("lang", "source"))


_TOKENS_SQL = (
    "list_filter(regexp_split_to_array(trim(lower("
    "regexp_replace(text, '[^\\p{L}\\p{N}]+', ' ', 'g'))), '\\s+'), x -> x <> '')"
)

def _shingles_sql(n: int) -> str:
    """Distinct word n-gram list over a `toks` list column — mirrors
    `dedup.word_shingles` for any n."""
    gram = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"list_distinct(list_transform(range(1, greatest(len(toks) - {n - 1}, 0) + 1), "
        f"i -> {gram}))"
    )


_SHINGLES_SQL = _shingles_sql(3)

#: Document-frequency cap for the gate's Jaccard run — mirrored into the
#: oracle below so both engines drop the same ubiquitous shingles.
NGRAM_MAX_DF = 50


#: DuckDB mirror of `functions.hashing.stable_long_hash` (md5-based, so it
#: exists in every engine — the whole point of not using murmur3/xxhash64).
#: NULL handling must match too: Spark's concat_ws treats NULL as '', so
#: the mirror coalesces — without it, 'seed' || NULL is NULL and null-keyed
#: rows would pass sampling/sharding gates differently across engines.
def _stable_hash_sql(expr: str, seed: int = 0) -> str:
    return f"CAST(('0x' || substr(md5('{seed}' || coalesce({expr}, '')), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# Relational Bloom-filter dedup (dedup.bloom_build / bloom_might_contain):
# the memory-bounded approximate-membership path when the exact key set
# outgrows its budget. The gate builds the filter over the even-doc_id
# half of the corpus and probes EVERY document — true members must always
# hit (no false negatives); the bitmap, positions, and word packing are
# mirrored term-for-term in SQL, so the false-positive set is identical
# on both engines too.
# ---------------------------------------------------------------------------

#: Gate sizing: 2^14 bits / 5 hashes over ~n/2 keys — small enough that
#: the bitmap aggregate is visibly bounded, large enough that the FP rate
#: stays a trace signal rather than noise.
BLOOM_M_BITS = 1 << 14
BLOOM_K = 5


def _bloom_oracle() -> str:
    from manifold_spark.operators.dedup import _BLOOM_WORD

    m, k, w = BLOOM_M_BITS, BLOOM_K, _BLOOM_WORD
    fp = f"CAST({_stable_hash_sql('text')} AS VARCHAR)"
    pos_list = ", ".join(
        f"({_stable_hash_sql('fp', seed=i)}) % {m}" for i in range(k)
    )
    return f"""
    WITH fps AS (
        SELECT doc_id, {fp} AS fp FROM documents
    ),
    bpos AS (
        SELECT unnest([{pos_list}]) AS pos
        FROM (SELECT fp FROM fps WHERE doc_id % 2 = 0)
    ),
    bloom AS (
        SELECT pos // {w} AS word_idx,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % {w} AS INT)) AS bits
        FROM bpos GROUP BY 1
    ),
    ppos AS (
        SELECT fp, unnest([{pos_list}]) AS pos
        FROM (SELECT DISTINCT fp FROM fps)
    ),
    pw AS (
        SELECT fp, pos // {w} AS word_idx,
               CAST(1 AS BIGINT) << CAST(pos % {w} AS INT) AS mask
        FROM ppos
    ),
    hits AS (
        SELECT fp,
               CAST(CASE WHEN sum(CASE WHEN (coalesce(bits, 0) & mask) <> 0
                                       THEN 1 ELSE 0 END) = {k}
                         THEN 1 ELSE 0 END AS INT) AS might_contain
        FROM pw LEFT JOIN bloom USING (word_idx)
        GROUP BY fp
    )
    SELECT f.doc_id, f.fp, h.might_contain,
           CAST(1 - h.might_contain AS INT) AS is_new
    FROM fps f JOIN hits h USING (fp)
    """


@register("dedup_bloom", _bloom_oracle())
def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership flags for every document against the
    even-id half's content fingerprints (see `dedup.bloom_dedup_flags`).
    Even docs (and odd docs whose text duplicates an even doc) must flag
    might_contain=1; everything else is subject only to the deterministic
    false-positive set shared by both engines."""
    docs = _t(spark, sf_dir, "documents")
    seen = docs.filter(F.col("doc_id") % 2 == 0)
    return dedup.bloom_dedup_flags(
        docs, seen, m_bits=BLOOM_M_BITS, k=BLOOM_K
    )


_NGRAM_JACCARD_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang, source, {_TOKENS_SQL} AS toks FROM documents
    ),
    sh AS (
        SELECT doc_id, lang, source, {_SHINGLES_SQL} AS shingles FROM toks
    ),
    ex AS (
        SELECT doc_id, lang, source,
               {_stable_hash_sql('shingle')} AS h
        FROM (SELECT doc_id, lang, source, unnest(shingles) AS shingle FROM sh)
    ),
    capped AS (
        SELECT * FROM ex
        QUALIFY count(*) OVER (PARTITION BY lang, source, h) <= {NGRAM_MAX_DF}
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM capped a JOIN capped b
          ON a.lang = b.lang AND a.source = b.source
         AND a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           i.n_inter / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= 0.1
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # df_cap_strategy="window" here (VERDICT r6 #3): warm-vs-warm A/B on
    # the r7 host, 3 rounds at 10× and 2 at 1×, window won every round
    # (10×: 13.1/14.5/13.5 vs 17.1/15.4/16.1 s; 1×: 2.9/3.0 vs 4.0/3.8 s)
    # — on local[N] the in-memory window pass beats the extra aggregate +
    # broadcast round-trip. Result-identical either way (both produce the
    # same capped pair set the oracle models); the OPERATOR default stays
    # "stoplist", the cluster-scale plan (shuffles map-side-combined
    # counts, not a sort of every exploded shingle row — SCALING.md).
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "text", "doc_id", ["lang", "source"],
        threshold=0.1, max_df=NGRAM_MAX_DF, df_cap_strategy="window",
    )


def _minhash_oracle(num_perm=24, bands=6, threshold=0.3, max_bucket=50, table="documents") -> str:
    """Generate the FULL banded-LSH pipeline in SQL from the same
    permutation constants the Spark side uses. ``table`` lets the skew
    gate point the identical pipeline at a derived corpus CTE."""
    perms = dedup._permutation_constants(num_perm)
    M = dedup._MERSENNE
    rows = num_perm // bands
    sig_cols = ",\n               ".join(
        f"min(({a} * h0 + {b}) % {M}) AS sig_{i}" for i, (a, b) in enumerate(perms)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, sha256(concat_ws(',', "
        + ", ".join(f"sig_{b * rows + r}" for r in range(rows))
        + ")) AS key FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM {table}),
    sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
    ex AS (SELECT doc_id, {_stable_hash_sql('shingle')} AS h
           FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh0)),
    h0 AS (SELECT doc_id, h, h % {M} AS h0 FROM ex),
    sigs AS (SELECT doc_id, count(*) AS n_sh,
               {sig_cols}
             FROM h0 GROUP BY doc_id),
    bands AS ({band_selects}),
    bsizes AS (SELECT band, key, count(*) AS n FROM bands GROUP BY 1, 2),
    bounded AS (SELECT b.doc_id, b.band, b.key FROM bands b
                JOIN bsizes s USING (band, key) WHERE s.n <= {max_bucket}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bounded a JOIN bounded b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS n_inter
              FROM cand c
              JOIN ex ea ON ea.doc_id = c.id_a
              JOIN ex eb ON eb.doc_id = c.id_b AND eb.h = ea.h
              GROUP BY 1, 2)
    SELECT i.id_a, i.id_b,
           i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) AS jaccard
    FROM inter i
    JOIN sigs sa ON sa.doc_id = i.id_a
    JOIN sigs sb ON sb.doc_id = i.id_b
    WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= {threshold}
    """


@register("dedup_minhash_lsh", _minhash_oracle())
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.3)


def _components_oracle() -> str:
    """Transitive closure of the minhash near-dup graph as a recursive
    CTE: reach(id, r) starts from self-reach for every document plus the
    symmetric pair edges, extends one hop per recursion, and the cluster
    id is the min reachable id — the same fixpoint min-label propagation
    converges to."""
    pairs_sql = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS (
        SELECT id_a, id_b FROM ({pairs_sql}) mp
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
    )
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    """


@register(
    "dedup_clusters",
    f"""
    SELECT doc_id, cluster_id, CAST(doc_id = cluster_id AS INT) AS is_survivor
    FROM ({_components_oracle()}) c
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering + survivor election in one gate (r6 fold of the
    former `dedup_cluster_survivors` key): connected components over the
    minhash-LSH pair graph — every doc carries its canonical
    representative (min reachable id), singletons carry themselves — and
    `is_survivor` marks the one representative kept per component, so the
    full corpus → LSH pairs → components → elect flow is verified
    end-to-end by a single driver row."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.3)
    comps = dedup.dedup_components(docs.select("doc_id"), pairs, assume_unique_ids=True)
    return comps.withColumn(
        "is_survivor", (F.col("doc_id") == F.col("cluster_id")).cast("int")
    )


def _simhash_oracle(num_bits=32, band_bits=8, max_hamming=6, max_bucket=100) -> str:
    n_bands = num_bits // band_bits
    mask = (1 << band_bits) - 1
    bit_cols = ",\n               ".join(
        f"SUM(((h >> {j}) & 1) * 2 - 1) AS b_{j}" for j in range(num_bits)
    )
    packed = " + ".join(
        f"(CASE WHEN b_{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(num_bits)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, fp, {b} AS band, (fp >> {b * band_bits}) & {mask} AS key FROM fp"
        for b in range(n_bands)
    )
    return f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents),
    h AS (SELECT doc_id, {_stable_hash_sql('token')} AS h FROM toks),
    bits AS (SELECT doc_id,
               {bit_cols}
             FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id, CAST({packed} AS BIGINT) AS fp FROM bits),
    bands AS ({band_selects}),
    bsizes AS (SELECT band, key, count(*) AS n FROM bands GROUP BY 1, 2),
    bounded AS (SELECT b.doc_id, b.fp, b.band, b.key FROM bands b
                JOIN bsizes s USING (band, key) WHERE s.n <= {max_bucket})
    SELECT id_a, id_b, hamming FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        FROM bounded a JOIN bounded b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ) WHERE hamming <= {max_hamming}
    """


@register("dedup_simhash", _simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=6)


# ---------------------------------------------------------------------------
# Adversarial-skew gates (r6): corpora engineered so the skew defenses —
# minhash `max_bucket`, ngram `max_df`, star-contraction components —
# actually ENGAGE (bench diagnostics had only ever shown them
# non-binding). Both corpora are derived from documents with deterministic
# md5 arithmetic both engines reproduce exactly, so the capped results
# stay under the full rows+schema+hash oracle.
# ---------------------------------------------------------------------------

import hashlib as _hashlib

#: ~60-word boilerplate paragraph every even-id document is replaced
#: with (plus a 2-word per-doc unique tail) — one viral template shared
#: by half the corpus, the classic web-scale LSH pathology.
SKEW_BOILERPLATE = " ".join(
    _hashlib.md5(f"bp-{i}".encode()).hexdigest()[:8] for i in range(60)
)
#: Caps sized to BIND at every test scale (the boilerplate cluster is
#: ≥250 docs even at sf0.001, far over 20) while leaving organic
#: buckets untouched.
SKEW_MAX_BUCKET = 20
SKEW_MAX_DF = 20

#: Deep-graph corpus: CHAIN_N parallel word-window chains; adjacent
#: positions overlap 14/20 words (exact 3-gram Jaccard 0.5), two apart
#: only 8 (0.2) — so threshold 0.3 yields pure PATH graphs whose
#: diameter (~corpus/CHAIN_N) far exceeds label-propagation's default
#: round budget; only star contraction (O(log n) rounds) converges.
CHAIN_N = 8
CHAIN_WORDS = 20
CHAIN_STEP = 6


def skewed_corpus(docs: DataFrame) -> DataFrame:
    """Replace even-id documents with boilerplate + md5 unique tail."""
    sid = F.col("doc_id").cast("string")
    tail = F.concat_ws(
        " ",
        F.substring(F.md5(F.concat(F.lit("u1-"), sid)), 1, 8),
        F.substring(F.md5(F.concat(F.lit("u2-"), sid)), 1, 8),
    )
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat_ws(" ", F.lit(SKEW_BOILERPLATE), tail),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        "source",
    )


def skewed_embeddings(emb: DataFrame) -> DataFrame:
    """The embedding twin of `skewed_corpus`: replace even-id vectors
    with ONE constant vector, so ~half the corpus collapses onto a
    single hyperplane fingerprint and every one of its RP-LSH band
    buckets is ~corpus/2 — `max_bucket` must engage or the bucket pairs
    quadratically. (A production analogue: a default/zero embedding
    emitted for failed encodes.)"""
    const = F.array(
        *[F.lit(float(((i * 7) % 13) - 6.0) / 6.0).cast("float") for i in range(DIM)]
    )
    return emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 2 == 0, const)
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    )


_SKEWED_CTE = f"""
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0
                    THEN '{SKEW_BOILERPLATE}' || ' '
                         || substr(md5('u1-' || CAST(doc_id AS VARCHAR)), 1, 8) || ' '
                         || substr(md5('u2-' || CAST(doc_id AS VARCHAR)), 1, 8)
                    ELSE text END AS text,
               lang, source
        FROM documents
"""


def _skew_ngram_oracle(max_df: int, threshold: float, table: str) -> str:
    """Single-block exact n-gram Jaccard with the df cap — the oracle twin
    of `ngram_jaccard_pairs(block_cols=[const], max_df=...)`."""
    return f"""
    WITH toks AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM {table}),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toks),
    ex AS (SELECT doc_id, {_stable_hash_sql('shingle')} AS h
           FROM (SELECT doc_id, unnest(shingles) AS shingle FROM sh)),
    capped AS (SELECT * FROM ex QUALIFY count(*) OVER (PARTITION BY h) <= {max_df}),
    sizes AS (SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           i.n_inter / (sa.n + sb.n - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE i.n_inter / (sa.n + sb.n - i.n_inter) >= {threshold}
    """


@register(
    "dedup_skew_guard",
    f"""
    WITH skewed AS ({_SKEWED_CTE})
    SELECT 'minhash' AS method, id_a, id_b, jaccard
    FROM ({_minhash_oracle(threshold=0.3, max_bucket=SKEW_MAX_BUCKET, table="skewed")})
    UNION ALL
    SELECT 'ngram' AS method, id_a, id_b, jaccard
    FROM ({_skew_ngram_oracle(SKEW_MAX_DF, 0.3, "skewed")})
    """,
)
def q_dedup_skew_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew caps UNDER FIRE, oracle-exact: half the corpus collapses
    onto one boilerplate template, so the minhash band buckets and the
    ngram shingle document-frequencies blow far past the caps — both
    engines drop the SAME over-cap buckets/shingles (the cap is a
    deterministic function of mirrored hashes), so the capped pair sets
    hash-match while the un-capped plan would be quadratic in the
    cluster size. Diagnostics (`buckets_over_cap > 0`,
    `rows_dropped_by_cap > 0`) are asserted in tests and published by
    the bench skew tier."""
    sk = skewed_corpus(_t(spark, sf_dir, "documents"))
    mh = dedup.minhash_lsh_pairs(
        sk, "text", "doc_id", threshold=0.3, max_bucket=SKEW_MAX_BUCKET
    ).select(F.lit("minhash").alias("method"), "id_a", "id_b", "jaccard")
    ng = dedup.ngram_jaccard_pairs(
        sk.withColumn("blk", F.lit(1)), "text", "doc_id", ["blk"],
        threshold=0.3, max_df=SKEW_MAX_DF,
    ).select(F.lit("ngram").alias("method"), "id_a", "id_b", "jaccard")
    return mh.unionByName(ng)


def chain_corpus(docs: DataFrame) -> DataFrame:
    """Sliding word-window chain docs: doc_id → (chain = id % CHAIN_N,
    pos = id // CHAIN_N); text = CHAIN_WORDS md5-words starting at
    chain·1e6 + pos·CHAIN_STEP. Adjacent positions are near-dups, chains
    never overlap (disjoint word-index ranges)."""
    start = (F.col("doc_id") % CHAIN_N) * 1_000_000 + F.expr(
        f"doc_id DIV {CHAIN_N}"
    ) * CHAIN_STEP
    idx = F.sequence(start.cast("long"), (start + CHAIN_WORDS - 1).cast("long"))
    text = F.array_join(
        F.transform(
            idx,
            lambda j: F.substring(F.md5(F.concat(F.lit("cw-"), j.cast("string"))), 1, 8),
        ),
        " ",
    )
    return docs.select("doc_id", text.alias("text"))


_CHAIN_CTE = f"""
        SELECT doc_id,
               array_to_string(list_transform(
                   range((doc_id % {CHAIN_N}) * 1000000 + (doc_id // {CHAIN_N}) * {CHAIN_STEP},
                         (doc_id % {CHAIN_N}) * 1000000 + (doc_id // {CHAIN_N}) * {CHAIN_STEP} + {CHAIN_WORDS}),
                   j -> substr(md5('cw-' || CAST(j AS VARCHAR)), 1, 8)), ' ') AS text
        FROM documents
"""


@register(
    "dedup_clusters_deep",
    f"""
    WITH RECURSIVE chain AS ({_CHAIN_CTE}),
    pairs AS (
        SELECT id_a, id_b FROM ({_skew_ngram_oracle(10**9, 0.3, "chain")}) p
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(id, r) AS (
        SELECT doc_id, doc_id FROM chain
        UNION
        SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a
    )
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    """,
)
def q_dedup_clusters_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on an adversarially DEEP graph: CHAIN_N (8)
    disjoint path graphs of diameter ~corpus/CHAIN_N (≈62 at 500 docs)
    — label propagation's O(diameter) rounds would blow its budget
    (pinned by a ComponentsNotConverged test), so this gate routes to
    star contraction, whose O(log n) rounds converge in single digits.
    Pairs come from EXACT n-gram Jaccard (no LSH recall noise), and the
    oracle walks the same graph with a recursive CTE."""
    ch = chain_corpus(_t(spark, sf_dir, "documents").select("doc_id"))
    pairs = dedup.ngram_jaccard_pairs(
        ch.withColumn("blk", F.lit(1)), "text", "doc_id", ["blk"], threshold=0.3
    )
    return dedup.dedup_components(
        ch.select("doc_id"), pairs, backend="star", assume_unique_ids=True
    )


@register(
    "stream_dedup_batches",
    """
    WITH b AS (
        SELECT event_id, user_id, event_type, ts, event_id % 4 AS batch_no
        FROM events
    ),
    fb AS (
        SELECT user_id, event_type, min(batch_no) AS batch_no
        FROM b GROUP BY 1, 2
    ),
    fe AS (
        SELECT b.user_id, b.event_type, min(b.event_id) AS first_event_id
        FROM b JOIN fb USING (user_id, event_type, batch_no)
        GROUP BY 1, 2
    )
    SELECT fe.user_id, fe.event_type, fe.first_event_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_str
    FROM fe JOIN events e ON e.event_id = fe.first_event_id
    """,
)
def q_stream_dedup_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalence gate for the streaming first-seen dedup (r6):
    the `foreachBatch` upsert body runs over a deterministic 4-way
    micro-batch split of `events` (batch = event_id mod 4 — adversarial:
    arrival order uncorrelated with event order, so late batches
    constantly re-probe state), and the final state must equal the
    batch-SQL answer: per (user_id, event_type), the min-event_id row of
    the first batch containing that key. The REAL
    writeStream.foreachBatch + availableNow path is pinned equal to this
    loop in tests/test_streaming.py."""
    from manifold_spark.streaming.jobs import incremental_first_seen

    events = _t(spark, sf_dir, "events")
    state = incremental_first_seen(
        events.select("event_id", "user_id", "event_type", "ts"),
        ["user_id", "event_type"],
        "event_id",
        n_batches=4,
    )
    return state.select(
        "user_id",
        "event_type",
        F.col("event_id").alias("first_event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_TOPK_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_vec
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.query_id,
               e.vec_id AS neighbor_id,
               {cosine_sql('q_vec', 'embedding', DIM)} AS cosine
        FROM q, embeddings e
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
"""


@register("sim_topk_bruteforce", _TOPK_ORACLE)
def q_sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.topk_bruteforce(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, DIM, k=TOP_K
    )


_IVF_ORACLE = f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cent_vec
        FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
    ),
    lists AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('embedding', 'cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM embeddings e, cent c
        ) WHERE crank <= 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS q_vec, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('embedding', 'cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM embeddings e, cent c
            WHERE e.vec_id < {N_QUERIES}
        ) WHERE crank <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, l.vec_id AS neighbor_id,
               {cosine_sql('q_vec', 'embedding', DIM)} AS cosine
        FROM probes p JOIN lists l USING (centroid_id)
        WHERE l.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
"""


@register("sim_ann_ivf", _IVF_ORACLE)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.topk_ivf(
        emb.filter(F.col("vec_id") < N_QUERIES),
        emb,
        DIM,
        k=TOP_K,
        n_centroids=IVF_CENTROIDS,
        nprobe=IVF_NPROBE,
    )


#: `ann_store_cdc` CDC script (VERDICT r11 #1): the final LIVE corpus
#: after init/append/CDC-delete/re-add/compaction/takedown/upsert. The
#: dead set is (D1 − R1) ∪ D2 ∪ (D3 − R3) with every set a pure residue
#: condition, so the DuckDB oracle states it as one WHERE clause:
#:   D1 = {id%4 ∈ {0,1} ∧ id%5 = 0}   deleted at v2
#:   R1 = {id%4 ∈ {0,1} ∧ id%10 = 0}  re-added at v3 (⊂ D1)
#:   D2 = {id%4 = 2 ∧ id%5 = 0}       deleted at v3
#:   D3 = {id%4 = 3 ∧ id%7 = 0}       deleted at v4 (post-compaction)
#:   R3 = {id%4 = 3 ∧ id%21 = 0}      re-added at v5 (⊂ D3, pre-compaction)
_ANN_DEAD_SQL = """(
       (vec_id % 4 IN (0, 1) AND vec_id % 5 = 0 AND vec_id % 10 <> 0)
    OR (vec_id % 4 = 2 AND vec_id % 5 = 0)
    OR (vec_id % 4 = 3 AND vec_id % 7 = 0 AND vec_id % 21 <> 0)
)"""

_ANN_STORE_CDC_ORACLE = f"""
    WITH live AS (
        SELECT vec_id, embedding FROM embeddings WHERE NOT {_ANN_DEAD_SQL}
    ),
    cent AS (
        SELECT vec_id AS centroid_id, embedding AS cent_vec
        FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
    ),
    lists AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('embedding', 'cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM live e, cent c
        ) WHERE crank <= 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS q_vec, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('embedding', 'cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM embeddings e, cent c
            WHERE e.vec_id < {N_QUERIES}
        ) WHERE crank <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, l.vec_id AS neighbor_id,
               {cosine_sql('q_vec', 'embedding', DIM)} AS cosine
        FROM probes p JOIN lists l USING (centroid_id)
        WHERE l.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
"""


@register("ann_store_cdc", _ANN_STORE_CDC_ORACLE)
def q_ann_store_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persistent `AnnIndexStore` INSIDE the hard correctness gate
    (VERDICT r11 #1): a full CDC lifecycle — initialize on a quarter
    corpus, plain append, CDC triggers mixing adds with deletes, a
    snapshot compaction mid-stream, a post-compaction takedown, and a
    sequence-numbered UPSERT (delete at v4, re-add at v5, NO compaction
    in between — the r11 `weak` shape) — then a pruned-cell probe whose
    results the DuckDB oracle recomputes as exact IVF over the final
    live corpus (corpus minus never-re-added deletes). The store state
    lives in a temp dir; the tiny result frame is localCheckpointed so
    the state can be removed before the driver collects."""
    import shutil
    import tempfile

    from manifold_spark.operators.ann_store import AnnIndexStore

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vid = F.col("vec_id")
    b = [emb.filter(vid % 4 == i) for i in range(4)]
    cents = emb.orderBy("vec_id").limit(IVF_CENTROIDS)
    tmp = tempfile.mkdtemp(prefix="ann-store-gate-")
    try:
        store = AnnIndexStore(spark, f"{tmp}/state", compact_every=3)
        store.initialize(b[0], centroids=cents)                      # v0
        store.append(b[1])                                           # v1
        with_op = lambda df, op: df.withColumn(                      # noqa: E731
            "op", F.lit(op).cast("string")
        )
        # v2: b2 adds + delete D1 (ids live since v0/v1)
        del1 = emb.filter(vid % 4 < 2).filter(vid % 5 == 0)
        store.apply_cdc(with_op(b[2], None).unionByName(with_op(del1, "delete")))
        # v3: b3 adds + RE-ADD R1 ⊂ D1 + delete D2 → compaction s3
        r1 = emb.filter(vid % 4 < 2).filter(vid % 10 == 0)
        del2 = emb.filter(vid % 4 == 2).filter(vid % 5 == 0)
        store.apply_cdc(
            with_op(b[3], None)
            .unionByName(with_op(r1, "add"))
            .unionByName(with_op(del2, "delete"))
        )
        assert store._scan()[0], "gate assumes the s3 compaction fired"
        # v4: post-compaction takedown D3; v5: re-add R3 ⊂ D3 with NO
        # compaction in between — the sequence-numbered-tombstone pin.
        store.delete(emb.filter(vid % 4 == 3).filter(vid % 7 == 0))  # v4
        store.apply_cdc(
            with_op(emb.filter(vid % 4 == 3).filter(vid % 21 == 0), "add")
        )                                                            # v5
        assert store._scan()[0] == [3], "no compaction may absorb D3"
        res = store.topk(
            emb.filter(vid < N_QUERIES), k=TOP_K, nprobe=IVF_NPROBE
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return res


_NEAR_DUP_ORACLE = f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS cent_vec
        FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
    ),
    assigned AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('embedding', 'cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM embeddings e, cent c
        ) WHERE crank <= 2
    )
    SELECT id_a, id_b, cosine FROM (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
               {cosine_sql('a.embedding', 'b.embedding', DIM)} AS cosine
        FROM assigned a JOIN assigned b
          ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
    ) WHERE cosine >= 0.2
"""


@register("sim_cosine_near_dup", _NEAR_DUP_ORACLE)
def q_sim_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_near_dup(_t(spark, sf_dir, "embeddings"), DIM, threshold=0.2)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def _ws_tokens_sql(inner: str) -> str:
    # mirror of textstats.ws_tokens: split on whitespace, drop empties
    # (r8: empty edge-tokens from non-space leading/trailing whitespace
    # are filtered on both engines)
    return (
        f"list_filter(regexp_split_to_array(trim({inner}), '\\s+'), "
        f"t -> t <> '')"
    )


def _marker_count_sql(markers: list[str]) -> str:
    lst = "[" + ", ".join(f"'{m}'" for m in markers) + "]"
    toks = _ws_tokens_sql("lower(text)")
    return f"CAST(len(list_filter({toks}, t -> list_contains({lst}, t))) AS INT)"


def _redact_sql_expr(inner: str = "text") -> str:
    """Chained regexp_replace mirror of `textstats.redact_pii` — generated
    from the same PII_PATTERNS list the engine applies."""
    expr = inner
    for pattern, token in textstats.PII_PATTERNS:
        # escape single quotes for SQL embedding (patterns contain none,
        # but keep the generator safe)
        p = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{token}', 'g')"
    return expr


def _text_stats_oracle() -> str:
    """Merged oracle for the whole scan-side text-analysis surface —
    language id + quality metrics + token counts + document fingerprint in
    ONE projection. Replaces the round-1 single-concept keys
    `text_language_id` / `text_quality` / `text_tokens` /
    `text_fingerprint` under the driver's 50-key cap; one pass is also the
    scale-correct layout (each extra gate re-scanned the corpus)."""
    counts = {lang: _marker_count_sql(m) for lang, m in textstats.LANG_MARKERS.items()}
    count_cols = ",\n           ".join(f"{sql} AS c_{lang}" for lang, sql in counts.items())
    best = "greatest(" + ", ".join(f"c_{lang}" for lang in textstats.LANG_MARKERS) + ")"
    whens = "\n                ".join(
        f"WHEN c_{lang} = {best} THEN '{lang}'" for lang in textstats.LANG_MARKERS
    )
    all_markers = sorted({m for ms in textstats.LANG_MARKERS.values() for m in ms})
    n_stop = _marker_count_sql(all_markers)
    toks = _ws_tokens_sql("text")
    # r7 fold of the former `clean_project` key (P1-P5/F13): null-default →
    # HTML strip → length-cap truncate, plus the source-column null-fill.
    # The oracle's RE2 strip cannot express the engine's anchor-keeping
    # lookahead; the corpus contains no tags so both reduce to identity —
    # the lookahead itself is pinned by tests/test_clean.py goldens
    # (same honest split the standalone key documented).
    strip = "regexp_replace(coalesce(text, 'Unknown'), '<[^>]*>', '', 'g')"
    clean_col = (
        f"CASE WHEN length({strip}) > 250 THEN substr({strip}, 1, 250) "
        f"ELSE {strip} END"
    )
    return f"""
    WITH m AS (
        SELECT doc_id,
           {clean_col} AS text_clean,
           {_redact_sql_expr("text")} AS text_redacted,
           coalesce(d.n_chars, -1) AS char_count,
           {count_cols},
           CAST(len(regexp_extract_all(text, '{textstats.CJK_PATTERN}')) AS INT) AS n_cjk,
           CAST(len({toks}) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars,
           CAST(len(regexp_extract_all(text, '{textstats.PUNCT_PATTERN}')) AS INT) AS n_punct,
           CAST(len(regexp_extract_all(text, '{textstats.ALPHA_PATTERN}')) AS INT) AS n_alpha,
           {n_stop} AS n_stop,
           CAST(len(regexp_extract_all(text, '{textstats.BPE_PATTERN}')) AS INT) AS n_tokens_bpe,
           sha256(array_to_string(list_sort(list_distinct(
               list_filter(regexp_split_to_array(trim(lower(
                   regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g'))), '\\s+'),
                   x -> x <> ''))), ' ')) AS fingerprint
        FROM documents d
    )
    SELECT doc_id, text_clean, text_redacted, char_count, n_cjk,
           CASE WHEN n_cjk > 0 THEN 'zh'
                WHEN {best} = 0 THEN 'und'
                {whens}
           END AS pred_lang,
           n_tokens, n_chars,
           n_punct / greatest(n_chars, 1) AS punct_ratio,
           n_alpha / greatest(n_chars, 1) AS alpha_ratio,
           n_stop / greatest(n_tokens, 1) AS stop_ratio,
           n_chars / greatest(n_tokens, 1) AS mean_token_len,
           least(1.0, n_tokens / 200.0) * 0.4
             + (n_alpha / greatest(n_chars, 1)) * 0.4
             + least(0.2, n_stop / greatest(n_tokens, 1)) AS quality_score,
           CAST(CASE WHEN n_tokens >= 20 AND n_alpha / greatest(n_chars, 1) > 0.5
                     THEN 1 ELSE 0 END AS INT) AS quality_pass,
           n_tokens_bpe, fingerprint
    FROM m
    """


@register("text_stats", _text_stats_oracle())
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All scan-side text signals in one projection (zero shuffle, zero
    UDF): n-gram language id, quality metrics, whitespace + BPE-ish token
    counts, sorted-distinct-token fingerprint — plus the r7-folded
    `clean_project` surface (P1-P5/F13: null-default → HTML strip →
    250-char truncate, source-column null-fill), so the clean chain keeps
    a driver row after its standalone key retired to make cap room for
    the PQ gates."""
    from manifold_spark import clean
    from manifold_spark.plans.parallelism import ensure_parallelism

    # r14 round-close: this is a pure scan-side projection, so on the
    # single-file bench input the WHOLE tokenize/score pass ran as ONE
    # task (the before-plan has no Exchange at all; the phase profile
    # read 1.7-2.3 s of single-core exec). ensure_parallelism round-robin
    # splits single-file scans only — it no-ops on real multi-file
    # corpora where the scan already yields splits (guide §6).
    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    # r14 (guide §1.2 per-task work): stage the shared per-row arrays
    # ONCE — higher-order `filter` is codegen-fallback, so Spark's
    # subexpression elimination never dedupes them, and the former
    # one-projection form evaluated `split(trim(lower(text)))` 26× and
    # the HTML-strip regex 3× per row (counted in the r14 before-plan).
    # CollapseProject leaves the staging projection in place because
    # every staged alias is non-cheap and multiply-referenced; values
    # are identical expression-for-expression (oracle unchanged).
    staged = docs.select(
        "doc_id",
        "text",
        "n_chars",
        textstats.ws_tokens(F.col("text")).alias("__toks_ws"),
        textstats.ws_tokens(F.lower(F.col("text"))).alias("__toks_low"),
        clean.strip_html_col(
            F.coalesce(F.col("text"), F.lit("Unknown"))
        ).alias("__stripped"),
        F.regexp_count(F.col("text"), F.lit(textstats.CJK_PATTERN))
        .cast("int")
        .alias("__n_cjk"),
    )
    # r14 round-close (same CSE argument, one level deeper): each
    # language's marker count is a lambda `size(filter(...))` referenced
    # ~5× by the lang-id CASE (greatest + per-branch compares) and the
    # stopword count twice (stop_ratio + quality_score) — the before-plan
    # evaluated ~21 marker filters per row. Stage each count ONCE; the
    # CASE/ratios read attributes. Values identical (same expressions).
    all_markers = sorted(
        {m for ms in textstats.LANG_MARKERS.values() for m in ms}
    )
    staged = staged.select(
        "*",
        *[
            textstats.marker_count_in(F.col("__toks_low"), m).alias(f"__cnt_{lang}")
            for lang, m in textstats.LANG_MARKERS.items()
        ],
        textstats.marker_count_in(F.col("__toks_low"), all_markers).alias(
            "__n_stop"
        ),
    )
    lang_counts = {
        lang: F.col(f"__cnt_{lang}") for lang in textstats.LANG_MARKERS
    }
    metrics = textstats.quality_metrics_from(
        F.col("text"), F.col("__toks_ws"), F.col("__toks_low"),
        n_stop=F.col("__n_stop"),
    )
    return staged.select(
        "doc_id",
        clean.truncate_col(F.col("__stripped"), 250).alias("text_clean"),
        textstats.redact_pii(F.col("text")).alias("text_redacted"),
        F.coalesce(F.col("n_chars"), F.lit(-1)).alias("char_count"),
        F.col("__n_cjk").alias("n_cjk"),
        textstats.language_id_from_counts(lang_counts, F.col("__n_cjk")).alias(
            "pred_lang"
        ),
        *[c.alias(name) for name, c in metrics.items()],
        # r9 fold of the former `quality_filter` key: the gate predicate
        # (≥20 ws tokens AND alpha ratio > 0.5) as a flag on the same
        # scan — the filter half of the quality operator keeps a driver
        # row with zero extra passes.
        (
            (F.size(F.col("__toks_ws")).cast("int") >= 20)
            & (
                F.regexp_count(F.col("text"), F.lit(textstats.ALPHA_PATTERN))
                / F.greatest(F.length("text"), F.lit(1))
                > 0.5
            )
        )
        .cast("int")
        .alias("quality_pass"),
        textstats.token_count_bpe(F.col("text")).alias("n_tokens_bpe"),
        textstats.doc_fingerprint(F.col("text")).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Event streams (batch semantics of the streaming jobs)
# ---------------------------------------------------------------------------


@register(
    "events_sessionize",
    """
    WITH wb AS (
        SELECT user_id, event_id, ts,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sid AS (
        SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) + 1 AS session_id
        FROM wb
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sid
    GROUP BY user_id, session_id
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


_MM_META_SQL = """
    SELECT 'meta' AS section,
           doc_id,
           CAST(n AS INT) AS byte_len,
           sha256(text) AS content_sha,
           CASE WHEN n % 2 = 0 THEN 'audio' ELSE 'video' END AS kind,
           CAST(CASE WHEN n % 2 = 0
                     THEN CASE n % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050 ELSE 44100 END
                     ELSE -1 END AS INT) AS sample_rate,
           CAST(CASE WHEN n % 2 = 0 THEN 1 + ((n // 2) % 2) ELSE -1 END AS INT) AS channels,
           CAST(CASE WHEN n % 2 = 1 THEN 256 + 16 * (n % 8) ELSE -1 END AS INT) AS width,
           CAST(CASE WHEN n % 2 = 1 THEN 144 + 16 * (n % 6) ELSE -1 END AS INT) AS height,
           CAST(CASE WHEN n % 2 = 1
                     THEN CASE n % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END
                     ELSE -1 END AS INT) AS fps,
           CAST(CASE WHEN n % 2 = 1 THEN greatest(1, n // 100) ELSE -1 END AS INT) AS n_frames,
           CAST(CASE WHEN n % 2 = 0
                     THEN (n * 500) // ((CASE n % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050 ELSE 44100 END)
                                        * (1 + ((n // 2) % 2)))
                     ELSE (greatest(1, n // 100) * 1000)
                          // (CASE n % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END)
                END AS BIGINT) AS duration_ms,
           CAST(-1 AS INT) AS chunk_idx,
           CAST(-1 AS BIGINT) AS "offset",
           CAST(-1 AS BIGINT) AS length,
           '' AS uri
    FROM (SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents)
    UNION ALL
    SELECT 'chunk' AS section,
           doc_id,
           CAST(-1 AS INT) AS byte_len,
           '' AS content_sha,
           '' AS kind,
           CAST(-1 AS INT) AS sample_rate,
           CAST(-1 AS INT) AS channels,
           CAST(-1 AS INT) AS width,
           CAST(-1 AS INT) AS height,
           CAST(-1 AS INT) AS fps,
           CAST(-1 AS INT) AS n_frames,
           CAST(-1 AS BIGINT) AS duration_ms,
           CAST(u.i AS INT) AS chunk_idx,
           CAST(u.i * 100 AS BIGINT) AS "offset",
           CAST(greatest(0, least(100, n - u.i * 100)) AS BIGINT) AS length,
           's3://media/' || CAST(doc_id AS VARCHAR) || '.bin' AS uri
    FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents) b,
         UNNEST(range(0, greatest(1, (n + 99) // 100))) u(i)
    """


def _multimodal_oracle() -> str:
    """meta + chunk sections (each padded with '' features_q) UNION the
    decode section (r12 fold of the former `multimodal_decode` key —
    same relation again, one gate now covers the ENTIRE multimodal
    surface; sentinel pattern unchanged)."""
    meta_chunk = _MM_META_SQL
    decode = _decode_oracle()
    return f"""
    SELECT *, '' AS features_q FROM ({meta_chunk})
    UNION ALL
    SELECT 'decode' AS section, doc_id, byte_len, '' AS content_sha,
           '' AS kind, CAST(-1 AS INT) AS sample_rate,
           CAST(-1 AS INT) AS channels, width, height,
           CAST(-1 AS INT) AS fps, CAST(-1 AS INT) AS n_frames,
           CAST(-1 AS BIGINT) AS duration_ms, CAST(-1 AS INT) AS chunk_idx,
           CAST(-1 AS BIGINT) AS "offset", CAST(-1 AS BIGINT) AS length,
           '' AS uri, features_q
    FROM ({decode})
    """


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary metadata, typed media probe, byte-range chunk manifest,
    and the Arrow `mapInPandas` decode pass union-tagged by `section`
    (r6 fold of `multimodal_probe_meta`; r9 fold of the former
    `multimodal_chunks` key; r12 fold of the former `multimodal_decode`
    key — every section projects the same `attach_binary` relation, so
    one gate covers the whole multimodal surface):

    - 'meta': scan-side byte_len/content_sha joined to the Arrow
      `mapInPandas` ffprobe-shaped stub prober whose integer arithmetic
      the oracle reproduces exactly (-1 sentinels, not NULL, for fields
      the modality doesn't have); the join is doc_id equi — both sides
      partition-preserving scans.
    - 'chunk': the >2 GB media path — payloads never enter a Spark
      column; workers range-GET (uri, offset, length). Pure
      sequence+posexplode, scan-side, no shuffle.
    - 'decode': the Arrow `mapInPandas` decode pass as stable scalars —
      the `array<float>` features column quantized to `floor(f * 1e6)`
      and comma-joined (the driver canonicalizer cannot sort list
      columns).
    """
    with_binary = multimodal.attach_binary(_t(spark, sf_dir, "documents"))
    probed = multimodal.probe_media_meta(with_binary).drop("byte_len")
    meta = (
        with_binary.select("doc_id", "byte_len", "content_sha")
        .join(probed, "doc_id")
        .select(
            F.lit("meta").alias("section"),
            "doc_id",
            "byte_len",
            "content_sha",
            "kind",
            "sample_rate",
            "channels",
            "width",
            "height",
            "fps",
            "n_frames",
            "duration_ms",
            F.lit(-1).cast("int").alias("chunk_idx"),
            F.lit(-1).cast("bigint").alias("offset"),
            F.lit(-1).cast("bigint").alias("length"),
            F.lit("").alias("uri"),
        )
    )
    manifest = multimodal.media_manifest(with_binary, "s3://media")
    neg_i = F.lit(-1).cast("int")
    chunks = multimodal.chunk_ranges(manifest, 100).select(
        F.lit("chunk").alias("section"),
        "doc_id",
        neg_i.alias("byte_len"),
        F.lit("").alias("content_sha"),
        F.lit("").alias("kind"),
        neg_i.alias("sample_rate"),
        neg_i.alias("channels"),
        neg_i.alias("width"),
        neg_i.alias("height"),
        neg_i.alias("fps"),
        neg_i.alias("n_frames"),
        F.lit(-1).cast("bigint").alias("duration_ms"),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "offset",
        "length",
        "uri",
    )
    feats = multimodal.extract_media_features(with_binary)
    decode = feats.select(
        F.lit("decode").alias("section"),
        "doc_id",
        "byte_len",
        F.lit("").alias("content_sha"),
        F.lit("").alias("kind"),
        neg_i.alias("sample_rate"),
        neg_i.alias("channels"),
        "width",
        "height",
        neg_i.alias("fps"),
        neg_i.alias("n_frames"),
        F.lit(-1).cast("bigint").alias("duration_ms"),
        neg_i.alias("chunk_idx"),
        F.lit(-1).cast("bigint").alias("offset"),
        F.lit(-1).cast("bigint").alias("length"),
        F.lit("").alias("uri"),
        F.array_join(
            F.transform(
                F.col("features"),
                lambda x: F.floor(x.cast("double") * F.lit(1000000.0))
                .cast("long")
                .cast("string"),
            ),
            ",",
        ).alias("features_q"),
    )
    return (
        meta.withColumn("features_q", F.lit(""))
        .unionByName(chunks.withColumn("features_q", F.lit("")))
        .unionByName(decode)
    )


def _decode_oracle() -> str:
    """Full SQL oracle for the (deterministic stub) media decoder: the
    16-bin high-nibble byte histogram is a group-by over hex() byte pairs,
    and the float32 feature values are reproduced exactly — DOUBLE division,
    cast to REAL (the Arrow float32 truncation), widen back, quantize with
    floor. Bit-identical to the Python stub on both engines (IEEE-754
    round-to-nearest at each step)."""
    hexdigits = "0123456789ABCDEF"  # DuckDB hex() is uppercase
    count_cols = ",\n               ".join(
        f"CAST(len(list_filter(pairs, p -> p[1] = '{d}')) AS INT) AS c_{i}"
        for i, d in enumerate(hexdigits)
    )
    feat = ", ".join(
        f"CAST(floor(CAST(CAST(CAST(c_{i} AS DOUBLE) / greatest(byte_len, 1) AS REAL)"
        f" AS DOUBLE) * 1000000) AS BIGINT)"
        for i in range(16)
    )
    return f"""
    WITH b AS (
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS byte_len,
               regexp_extract_all(hex(encode(text)), '..') AS pairs
        FROM documents
    ),
    c AS (SELECT doc_id, byte_len,
               {count_cols}
          FROM b)
    SELECT doc_id, byte_len,
           CAST(16 + byte_len % 64 AS INT) AS width,
           CAST(16 + byte_len % 48 AS INT) AS height,
           array_to_string([{feat}], ',') AS features_q
    FROM c
    """


# r12: the former standalone `multimodal_decode` key is the 'decode'
# section of `multimodal_meta` (registered here, after its oracle
# pieces exist).
register("multimodal_meta", _multimodal_oracle())(q_multimodal_meta)


# ---------------------------------------------------------------------------
# As-of join (point-in-time): each purchase matched to the user's most
# recent signup at-or-before it. DuckDB's native ASOF JOIN is the oracle
# for our window-composition implementation.
# ---------------------------------------------------------------------------


@register(
    "events_asof_join",
    """
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from manifold_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    signups = events.filter(F.col("event_type") == "signup")
    joined = asof_join(purchases, signups, on="ts", by=["user_id"], suffix="_signup")
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.date_format("ts_signup", "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
    )


# ---------------------------------------------------------------------------
# Per-event-type stats: exact distinct counts AND exact percentiles in
# one aggregate (merged from the round-2 keys `events_distinct_users` +
# `events_percentiles` under the driver's 50-key cap — one shuffle
# instead of two over the same grouping key). The oracle spells out
# Spark's `percentile` rather than calling DuckDB's `quantile_cont`:
# both interpolate between the order statistics at floor/ceil of
# pos = (n-1)·p, but Spark returns the lower value as-is when the two
# neighbours are equal and otherwise computes (hi_i-pos)·lo +
# (pos-lo_i)·hi, while `quantile_cont` always interpolates in its own
# form — 19 zeros + [225.77, 225.77] at p99 gives 225.77 in Spark and
# 225.76999999999998 in DuckDB. At interactive 100 TB scale the one-line
# swaps are approx_count_distinct (HLL) and approx_percentile
# (t-digest) — kept exact here for the oracle gate.
# ---------------------------------------------------------------------------


@register(
    "events_type_stats",
    """
    WITH typed AS (
        SELECT event_type,
               count(DISTINCT user_id) AS n_users,
               count(*) AS n_events,
               CAST(SUM(CAST(floor((value) * 10000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000.0 AS total_value,
               list(value ORDER BY value) FILTER (WHERE value IS NOT NULL) AS vs
        FROM events
        GROUP BY event_type
    ), positioned AS (
        SELECT *, CAST(len(vs) - 1 AS DOUBLE) * q AS pos
        FROM typed, (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))) AS p(q)
    ), neighbours AS (
        SELECT *, floor(pos) AS lo_i, ceil(pos) AS hi_i,
               vs[CAST(floor(pos) AS BIGINT) + 1] AS lo,
               vs[CAST(ceil(pos) AS BIGINT) + 1] AS hi
        FROM positioned
    ), pct AS (
        SELECT *, CASE WHEN lo_i = hi_i OR lo = hi THEN lo
                       ELSE (hi_i - pos) * lo + (pos - lo_i) * hi END AS v
        FROM neighbours
    )
    SELECT 'type' AS grain,
           '' AS hour_start,
           event_type,
           n_users,
           n_events,
           total_value,
           max(v) FILTER (WHERE q = 0.5) AS p50,
           max(v) FILTER (WHERE q = 0.9) AS p90,
           max(v) FILTER (WHERE q = 0.99) AS p99
    FROM pct
    GROUP BY event_type, n_users, n_events, total_value
    UNION ALL
    SELECT 'hour' AS grain,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           CAST(-1 AS BIGINT) AS n_users,
           count(*) AS n_events,
           CAST(SUM(CAST(floor((value) * 10000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 10000.0 AS total_value,
           CAST(NULL AS DOUBLE) AS p50,
           CAST(NULL AS DOUBLE) AS p90,
           CAST(NULL AS DOUBLE) AS p99
    FROM events
    GROUP BY 2, 3
    """,
)
def q_events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two grains of the same event-stream profile union-tagged by `grain`
    (r9 fold of the former `events_hourly_rollup` key): the per-type exact
    distinct-user/percentile profile beside the streaming hourly rollup's
    batch twin (`streaming.jobs.hourly_rollup` — the identical date_trunc
    aggregate the watermarked stream runs). Each branch is one map-side-
    combined aggregate over its own grouping key; no extra scan is shared
    because the two groupings genuinely differ. (r14 round-close: an
    `ensure_parallelism` split was A/B-measured here and REVERTED — the
    round-robin exchange of 100k rows costs what the parallel partial
    aggregation saves at this percentile state size; steady-state exec
    was ~1.3 s both ways.)"""
    e = _t(spark, sf_dir, "events")
    null_d = F.lit(None).cast("double")
    typed = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        decimal_sum(F.col("value"), scale=4).alias("total_value"),
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    ).select(
        F.lit("type").alias("grain"),
        F.lit("").alias("hour_start"),
        "event_type",
        "n_users",
        "n_events",
        "total_value",
        "p50",
        "p90",
        "p99",
    )
    hourly = hourly_rollup(e).select(
        F.lit("hour").alias("grain"),
        "hour_start",
        "event_type",
        F.lit(-1).cast("bigint").alias("n_users"),
        "n_events",
        "total_value",
        null_d.alias("p50"),
        null_d.alias("p90"),
        null_d.alias("p99"),
    )
    return typed.unionByName(hourly)


def _kmeans_prefix(iters: int = 2, sample_bps: int | None = None) -> tuple[list[str], str]:
    """CTE list unrolling `similarity.kmeans_centroids` (fixed `iters`
    Lloyd rounds) in DuckDB SQL, plus the name of the final centroid CTE.
    Shared by every oracle that trains the quantizer (`_kmeans_oracle`,
    `_semdedup_oracle`). Each round: assign every vector to its nearest
    centroid by the SAME left-associated dot product, then recompute
    per-dimension means with the engine's `decimal_avg` construction
    (`floor(v*1e8+0.5)` scaled-integer sum / count) — bit-identical to the
    Spark side, so the refined centroids (and everything downstream) hash-
    match exactly.

    ``sample_bps`` mirrors `kmeans_centroids(sample_fraction=bps/10000)`:
    Lloyd trains on the deterministic md5 hash-sample of the corpus
    (`_stable_hash_sql` ≡ `functions.hashing.stable_long_hash`), while
    downstream CTEs still cover the FULL corpus — the 100 TB
    quantizer-training path, fully oracled."""

    def mean_cols(src: str) -> str:
        return ",\n               ".join(
            f"((CAST(SUM(CAST(floor(CAST({src}[{j}] AS DOUBLE) * 100000000.0 + 0.5)"
            f" AS HUGEINT)) AS DOUBLE) / 100000000.0) / COUNT({src}[{j}])) AS m_{j}"
            for j in range(1, DIM + 1)
        )

    vec_literal = "[" + ", ".join(f"m_{j}" for j in range(1, DIM + 1)) + "]"

    if sample_bps is None:
        train = "embeddings"
        parts = []
    else:
        train = "train"
        gate = _stable_hash_sql("CAST(vec_id AS VARCHAR)")
        parts = [
            f"""train AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE {gate} % 10000 < {sample_bps}
    )"""
        ]
    parts.append(
        f"""cent_0 AS (
        SELECT vec_id AS centroid_id, embedding AS cent_vec
        FROM {train} ORDER BY vec_id LIMIT {IVF_CENTROIDS}
    )"""
    )
    for i in range(1, iters + 1):
        parts.append(f"""assign_{i} AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('embedding', 'cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM {train} e, cent_{i - 1} c
        ) WHERE crank <= 1
    )""")
        parts.append(f"""means_{i} AS (
        SELECT centroid_id,
               {mean_cols('embedding')}
        FROM assign_{i} GROUP BY centroid_id
    )""")
        parts.append(f"""cent_{i} AS (
        SELECT centroid_id, {vec_literal} AS cent_vec FROM means_{i}
    )""")

    return parts, f"cent_{iters}"


def _kmeans_oracle(iters: int = 2, sample_bps: int | None = None) -> str:
    """kmeans-IVF ANN oracle: the unrolled-Lloyd prefix from
    `_kmeans_prefix`, then full-corpus inverted lists, probe assignment,
    scoring, and the exact top-k rank cut."""
    parts, final = _kmeans_prefix(iters, sample_bps)
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes},
    lists AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('embedding', 'cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM embeddings e, {final} c
        ) WHERE crank <= 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS q_vec, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('embedding', 'cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM embeddings e, {final} c
            WHERE e.vec_id < {N_QUERIES}
        ) WHERE crank <= {IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, l.vec_id AS neighbor_id,
               {cosine_sql('q_vec', 'embedding', DIM)} AS cosine
        FROM probes p JOIN lists l USING (centroid_id)
        WHERE l.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    WHERE rank <= {TOP_K}
    """


#: Sampling rate for the 100 TB quantizer-training path, in basis points
#: (mirrored into the oracle's hash gate — both sides read this constant).
KMEANS_SAMPLE_BPS = 1000


def _kmeans_union_oracle() -> str:
    """Both Lloyd-trained IVF variants in one result set, tagged by
    `trained` — full-corpus training beside the deterministic 10%
    hash-sample training (the 100 TB quantizer path). r8 fold of the
    former `sim_ann_ivf_kmeans_sampled` key under the driver's 50-key
    cap: both fully-unrolled two-round Lloyd oracles stay driver-gated,
    in one key."""
    return f"""
    SELECT 'full' AS trained, * FROM ({_kmeans_oracle()})
    UNION ALL
    SELECT 'sampled', * FROM ({_kmeans_oracle(sample_bps=KMEANS_SAMPLE_BPS)})
    """


@register("sim_ann_ivf_kmeans", _kmeans_union_oracle())
def q_sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus-trained AND hash-sample-trained kmeans-IVF ANN in one
    gate, union-tagged by `trained` (r8 fold — see _kmeans_union_oracle).
    The sampled variant is the scale default: Lloyd needs ~k·10³ vectors,
    not the corpus; search still covers the full corpus either way."""
    from concurrent.futures import ThreadPoolExecutor

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # r14 round-close (guide §2.6): the two quantizer trainings are
    # independent (disjoint training sets, deterministic codebooks) and
    # each one's Lloyd rounds are driver-blocking collect jobs — build
    # both variants from a 2-thread pool so one training's collect
    # barrier back-fills with the other's tasks. Values are unchanged:
    # each training is self-contained and deterministic.
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_full = pool.submit(
            lambda: similarity.topk_ivf_kmeans(
                queries, emb, DIM,
                k=TOP_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
            )
        )
        f_sampled = pool.submit(
            lambda: similarity.topk_ivf_kmeans(
                queries, emb, DIM,
                k=TOP_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
                sample_fraction=KMEANS_SAMPLE_BPS / 10000,
            )
        )
        full = f_full.result().select(F.lit("full").alias("trained"), "*")
        sampled = f_sampled.result().select(
            F.lit("sampled").alias("trained"), "*"
        )
    return full.unionByName(sampled)


#: SemDeDup pair threshold for the gate corpus. Production semantic dedup
#: runs at ~0.95-0.99; the synthetic embeddings are near-orthogonal, so the
#: gate uses the same 0.2 as `sim_cosine_near_dup` to exercise the drop
#: path with real signal.
SEMDEDUP_THRESHOLD = 0.2


def _semdedup_oracle() -> str:
    """Full SQL mirror of `similarity.semdedup`: the unrolled two-round
    Lloyd prefix (`_kmeans_prefix` — identical centroids bit-for-bit),
    nearest-centroid assignment, per-vector centroid cosine, within-
    cluster pair formation, and the paper's keep-lowest-centroid-sim rule
    as the same explicit boolean the engine evaluates."""
    parts, final = _kmeans_prefix()
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes},
    assign AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('embedding', 'cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM embeddings e, {final} c
        ) WHERE crank <= 1
    ),
    withsim AS (
        SELECT a.vec_id, a.embedding, a.centroid_id,
               {cosine_sql('a.embedding', 'c.cent_vec', DIM)} AS cent_sim
        FROM assign a JOIN {final} c ON a.centroid_id = c.centroid_id
    ),
    losers AS (
        SELECT DISTINCT CASE WHEN (x.cent_sim > y.cent_sim)
                               OR (x.cent_sim = y.cent_sim AND x.vec_id > y.vec_id)
                             THEN x.vec_id ELSE y.vec_id END AS vec_id
        FROM withsim x JOIN withsim y
          ON x.centroid_id = y.centroid_id AND x.vec_id < y.vec_id
        WHERE {cosine_sql('x.embedding', 'y.embedding', DIM)} >= {SEMDEDUP_THRESHOLD}
    )
    SELECT w.vec_id, w.centroid_id, w.cent_sim,
           CAST(CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_kept
    FROM withsim w LEFT JOIN losers l ON w.vec_id = l.vec_id
    """


@register("sim_semdedup", _semdedup_oracle())
def q_sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup over the embeddings table: every vector
    labelled kept/dropped under the cluster-then-prune rule (see
    `similarity.semdedup`). One row per corpus vector — the whole
    decision surface is driver-gated, not just the survivor set."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semdedup(
        emb, DIM, n_clusters=IVF_CENTROIDS, iters=2,
        threshold=SEMDEDUP_THRESHOLD,
    )


def _pq_oracle(ivf: bool) -> str:
    """Full SQL mirror of `pq.topk_pq` / `pq.topk_ivf_pq` (r7 — the last
    substantive operators outside the driver gate). Everything the engine
    computes is unrolled here bit-for-bit:

    - per-subspace Lloyd codebook training (`pq.pq_codebooks`): seed =
      subvectors of the first ksub corpus vectors by id; each round a
      (dist asc, code asc) argmin assignment + `decimal_avg`-scale-8
      per-dimension means (the `_kmeans_oracle` construction), empty
      cells keeping the previous centroid via the LEFT JOIN coalesce;
    - scan-side encoding (`pq._codes_expr`): same argmin against the
      round-`iters` codebook, codes collected in subspace order;
    - ADC scoring (`pq._adc_search`): dt[j][c] inner-product tables and
      the query norm as the SAME left-associated double chains the
      engine computes driver-side, the `0.0 + t1 + …` fold matching
      `F.aggregate(..., lit(0.0), add)`, and the codeword-norm table
      from `pq._norm_tables`;
    - top-R candidate cut (approx_cos desc, neighbor_id asc), exact
      cosine re-rank of the R·|Q| candidates, final (cosine desc, id)
      top-k — the `topk_bruteforce` output contract.

    ``ivf`` adds the coarse quantizer: default centroids (first
    IVF_CENTROIDS corpus vectors by id), scan-side argmax list
    assignment, and per-query nprobe probes — the ADC scan then joins on
    the list id instead of crossing the full corpus, mirroring
    `pq.ivf_pq_index` + `pq.topk_ivf_pq`."""
    m, ksub, iters = pq.PQ_M, pq.PQ_KSUB, 2
    dsub = DIM // m
    R = 32 * TOP_K

    def chain(term) -> str:
        # left-associated "+"-chain over subspace dims 1..dsub — parses as
        # ((t1 + t2) + t3)…, matching the engine's functools.reduce order
        return " + ".join(term(i) for i in range(1, dsub + 1))

    def sub_slice(src: str) -> str:
        return (
            f"list_transform(list_slice({src}.embedding, s.j * {dsub} + 1, "
            f"(s.j + 1) * {dsub}), v -> CAST(v AS DOUBLE))"
        )

    sq_l2 = chain(
        lambda i: f"((r.subvec[{i}] - c.cent[{i}]) * (r.subvec[{i}] - c.cent[{i}]))"
    )
    mean_cols = ",\n               ".join(
        f"((CAST(SUM(CAST(floor(subvec[{d}] * 100000000.0 + 0.5) AS HUGEINT)) AS DOUBLE)"
        f" / 100000000.0) / COUNT(subvec[{d}])) AS m_{d}"
        for d in range(1, dsub + 1)
    )
    new_cent = "[" + ", ".join(f"m.m_{d}" for d in range(1, dsub + 1)) + "]"

    parts = [
        f"""subspaces AS (
        SELECT CAST(i AS INT) AS j FROM generate_series(0, {m - 1}) t(i)
    )""",
        f"""seed AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, embedding
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {ksub})
    )""",
        f"""cb_0 AS (
        SELECT s.j, d.code, {sub_slice('d')} AS cent
        FROM subspaces s, seed d
    )""",
        f"""subrows AS (
        SELECT e.vec_id AS vid, s.j, {sub_slice('e')} AS subvec
        FROM embeddings e, subspaces s
    )""",
    ]
    for i in range(1, iters + 1):
        parts.append(f"""assign_{i} AS (
        SELECT vid, j, subvec, code FROM (
            SELECT r.vid, r.j, r.subvec, c.code,
                   row_number() OVER (PARTITION BY r.vid, r.j
                                      ORDER BY ({sq_l2}), c.code) AS rnk
            FROM subrows r JOIN cb_{i - 1} c ON r.j = c.j
        ) WHERE rnk = 1
    )""")
        parts.append(f"""means_{i} AS (
        SELECT j, code,
               {mean_cols}
        FROM assign_{i} GROUP BY j, code
    )""")
        parts.append(f"""cb_{i} AS (
        SELECT p.j, p.code,
               CASE WHEN m.code IS NULL THEN p.cent ELSE {new_cent} END AS cent
        FROM cb_{i - 1} p LEFT JOIN means_{i} m ON p.j = m.j AND p.code = m.code
    )""")

    parts.append(f"""codes_long AS (
        SELECT vid, j, code FROM (
            SELECT r.vid, r.j, c.code,
                   row_number() OVER (PARTITION BY r.vid, r.j
                                      ORDER BY ({sq_l2}), c.code) AS rnk
            FROM subrows r JOIN cb_{iters} c ON r.j = c.j
        ) WHERE rnk = 1
    )""")
    parts.append("""enc AS (
        SELECT vid, list(code ORDER BY j) AS codes FROM codes_long GROUP BY vid
    )""")

    ip = chain(lambda i: f"(q.subvec[{i}] * c.cent[{i}])")
    parts.append(f"""dots AS (
        SELECT q.query_id, c.j, c.code, ({ip}) AS ip
        FROM (SELECT e.vec_id AS query_id, s.j, {sub_slice('e')} AS subvec
              FROM embeddings e, subspaces s WHERE e.vec_id < {N_QUERIES}) q
        JOIN cb_{iters} c ON q.j = c.j
    )""")
    parts.append("""qdt AS (
        SELECT query_id, list(ipl ORDER BY j) AS dt FROM (
            SELECT query_id, j, list(ip ORDER BY code) AS ipl
            FROM dots GROUP BY query_id, j
        ) GROUP BY query_id
    )""")
    parts.append(f"""qn AS (
        SELECT vec_id AS query_id, sqrt({dot_sql('embedding', 'embedding', DIM)}) AS qnorm
        FROM embeddings WHERE vec_id < {N_QUERIES}
    )""")
    nrm = chain(lambda i: f"(cent[{i}] * cent[{i}])")
    parts.append(f"""ntt AS (
        SELECT list(nl ORDER BY j) AS nt FROM (
            SELECT j, list(nrm ORDER BY code) AS nl
            FROM (SELECT j, code, ({nrm}) AS nrm FROM cb_{iters}) GROUP BY j
        )
    )""")

    if ivf:
        parts.append(f"""cent AS (
        SELECT vec_id AS centroid_id, embedding AS cent_vec
        FROM embeddings ORDER BY vec_id LIMIT {IVF_CENTROIDS}
    )""")
        parts.append(f"""coarse AS (
        SELECT vec_id AS vid, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('e.embedding', 'c.cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM embeddings e, cent c
        ) WHERE crank <= 1
    )""")
        parts.append(f"""probes AS (
        SELECT vec_id AS query_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY ({dot_sql('e.embedding', 'c.cent_vec', DIM)}) DESC,
                                               c.centroid_id) AS crank
            FROM embeddings e, cent c WHERE e.vec_id < {N_QUERIES}
        ) WHERE crank <= {IVF_NPROBE}
    )""")
        scored_from = """FROM qdt q
        JOIN qn ON q.query_id = qn.query_id
        JOIN probes p ON q.query_id = p.query_id
        JOIN (SELECT enc.vid, enc.codes, coarse.centroid_id
              FROM enc JOIN coarse ON enc.vid = coarse.vid) e
          ON p.centroid_id = e.centroid_id"""
    else:
        scored_from = """FROM qdt q
        JOIN qn ON q.query_id = qn.query_id
        CROSS JOIN enc e"""

    ip_fold = "0.0 + " + " + ".join(f"q.dt[{j}][e.codes[{j}] + 1]" for j in range(1, m + 1))
    nt_fold = "0.0 + " + " + ".join(f"ntt.nt[{j}][e.codes[{j}] + 1]" for j in range(1, m + 1))
    parts.append(f"""scored AS (
        SELECT q.query_id, e.vid AS neighbor_id,
               ({ip_fold}) AS ip, ({nt_fold}) AS anorm_sq, qn.qnorm
        {scored_from}
        CROSS JOIN ntt
        WHERE e.vid <> q.query_id
    )""")
    parts.append("""ranked AS (
        SELECT query_id, neighbor_id,
               CASE WHEN (qnorm * sqrt(anorm_sq)) > 0
                    THEN ip / (qnorm * sqrt(anorm_sq)) ELSE 0.0 END AS approx_cos
        FROM scored
    )""")
    parts.append(f"""cands AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY approx_cos DESC, neighbor_id) AS rnk
            FROM ranked
        ) WHERE rnk <= {R}
    )""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes},
    rr AS (
        SELECT c.query_id, c.neighbor_id,
               {cosine_sql('q.embedding', 'e.embedding', DIM)} AS cosine
        FROM cands c
        JOIN embeddings e ON c.neighbor_id = e.vec_id
        JOIN embeddings q ON c.query_id = q.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM rr
    )
    WHERE rank <= {TOP_K}
    """


@register("sim_ann_pq", _pq_oracle(ivf=False))
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat product-quantization ANN (the memory-bound 100 TB path —
    64× smaller ADC scan bytes): codebook training, scan-side encoding,
    ADC candidate scoring, exact-cosine re-rank, all oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    return pq.topk_pq(emb.filter(F.col("vec_id") < N_QUERIES), emb, DIM, k=TOP_K)


@register("sim_ann_ivf_pq", _pq_oracle(ivf=True))
def q_sim_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (the composed FAISS-shape architecture): coarse lists bound
    compute, PQ codes bound bytes; the one-pass (id, codes, list id)
    index projection and probed ADC equi-join, all oracled."""
    emb = _t(spark, sf_dir, "embeddings")
    return pq.topk_ivf_pq(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, DIM,
        k=TOP_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
    )


def _rp_lsh_oracle(threshold=0.2, num_bits=24, band_bits=8, max_bucket=100) -> str:
    """Full SQL mirror of `similarity.rp_lsh_near_dup`: the hyperplane
    coefficients are embedded as literals from the SAME generator, the
    bit sums use the identical scaled-integer quantization (exact,
    order-independent), and the band/bucket/verify stages mirror the
    Spark plan 1:1."""
    planes = similarity.rp_hyperplanes(num_bits, DIM)
    rows = ",\n        ".join(
        "(" + ", ".join([str(d + 1)] + [repr(planes[j][d]) for j in range(num_bits)]) + ")"
        for d in range(DIM)
    )
    cols = ", ".join(["pos"] + [f"c_{j}" for j in range(num_bits)])
    sum_cols = ",\n               ".join(
        f"SUM(CAST(floor(val * c_{j} * 1000000.0 + 0.5) AS BIGINT)) AS s_{j}"
        for j in range(num_bits)
    )
    packed = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(num_bits)
    )
    n_bands = num_bits // band_bits
    mask = (1 << band_bits) - 1
    band_selects = "\n        UNION ALL ".join(
        f"SELECT vid, fp, {b} AS band, (fp >> {b * band_bits}) & {mask} AS key FROM fp"
        for b in range(n_bands)
    )
    return f"""
    WITH coefs({cols}) AS (VALUES
        {rows}
    ),
    ex AS (
        SELECT e.vec_id AS vid, CAST(r.range AS INT) AS pos,
               CAST(e.embedding[r.range] AS DOUBLE) AS val
        FROM embeddings e, range(1, {DIM + 1}) r
    ),
    bits AS (
        SELECT vid,
               {sum_cols}
        FROM ex JOIN coefs USING (pos) GROUP BY vid
    ),
    fp AS (SELECT vid, CAST({packed} AS BIGINT) AS fp FROM bits),
    bands AS ({band_selects}),
    bsizes AS (SELECT band, key, count(*) AS n FROM bands GROUP BY 1, 2),
    bounded AS (SELECT b.vid, b.band, b.key FROM bands b
                JOIN bsizes s USING (band, key) WHERE s.n <= {max_bucket}),
    cand AS (SELECT DISTINCT a.vid AS id_a, b.vid AS id_b
             FROM bounded a JOIN bounded b
               ON a.band = b.band AND a.key = b.key AND a.vid < b.vid)
    SELECT c.id_a, c.id_b,
           {cosine_sql('ea.embedding', 'eb.embedding', DIM)} AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE {cosine_sql('ea.embedding', 'eb.embedding', DIM)} >= {threshold}
    """


@register("sim_rp_lsh_near_dup", _rp_lsh_oracle())
def q_sim_rp_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (SimHash-for-cosine) embedding near-dup — the
    bucketed 100 TB sibling of the IVF-blocked `sim_cosine_near_dup`."""
    return similarity.rp_lsh_near_dup(_t(spark, sf_dir, "embeddings"), DIM, threshold=0.2)


# (r8: the former `text_redact_pii` key — PII masking as chained
# regexp_replace — folded INTO `text_stats` as its `text_redacted` column
# under the driver's 50-key cap: the scrub is one more scan-side
# projection over the same pass, and the freed slot went to
# `text_repetition`. `textstats.redact_pii` keeps its own pytest goldens.)


# ---------------------------------------------------------------------------
# Deterministic data mixing: per-source hash-gated sampling — reproducible
# across engines/partitionings (df.sample() is neither), the standard
# corpus-mixing step for training-set construction.
# ---------------------------------------------------------------------------

_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.05


_QUOTA_PER_SOURCE = 25
#: Temperature-resampling knobs for the gate's third branch — over
#: `lang` (the one skewed grouping in the corpus; `source` is uniform),
#: XLM-R's α = 0.5 mixture flattening at half-volume.
_TEMP_ALPHA = 0.5
_TEMP_TARGET = 0.5


def _mix_oracle() -> str:
    from manifold_spark.operators.sampling import RATE_DENOM, TEMP_SCALE

    rate_case = "CASE "
    for src, rate in sorted(_MIX_RATES.items()):
        rate_case += f"WHEN source = '{src}' THEN {int(round(rate * RATE_DENOM))} "
    rate_case += f"ELSE {int(round(_MIX_DEFAULT * RATE_DENOM))} END"
    h = _stable_hash_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    SELECT 'rate' AS method, doc_id, source
    FROM documents
    WHERE ({h}) % {RATE_DENOM} < ({rate_case})
    UNION ALL
    SELECT 'quota', doc_id, source
    FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY {h}, doc_id) AS rk
        FROM documents
    )
    WHERE rk <= {_QUOTA_PER_SOURCE}
    UNION ALL
    SELECT 'temp', doc_id, source
    FROM documents d
    JOIN (
        SELECT lang,
               CAST(floor(least(1.0, ({_TEMP_TARGET} *
                        (CAST(e AS DOUBLE) / CAST(se AS DOUBLE))) / p)
                    * {RATE_DENOM}.0) AS BIGINT) AS rate_bps
        FROM (
            SELECT lang, p,
                   CAST(floor(pow(p, {_TEMP_ALPHA}) * {TEMP_SCALE}.0) AS BIGINT) AS e,
                   sum(CAST(floor(pow(p, {_TEMP_ALPHA}) * {TEMP_SCALE}.0) AS BIGINT))
                       OVER () AS se
            FROM (
                SELECT lang,
                       CAST(count(*) AS DOUBLE)
                       / CAST(sum(count(*)) OVER () AS DOUBLE) AS p
                FROM documents GROUP BY lang
            )
        )
    ) r USING (lang)
    WHERE ({h}) % {RATE_DENOM} < rate_bps
    """


# (sample_mix_sources folded into `sampling_surface` below — r12 key
# consolidation freeing driver slots for the state-store gates.)


# ---------------------------------------------------------------------------
# Sequence packing: greedy in-order token-budget binning per hash shard —
# how training batches get assembled from a tokenized corpus.
# ---------------------------------------------------------------------------

_PACK_BUDGET = 2048
_PACK_SHARDS = 16


def _pack_sql(
    table: str,
    budget: int,
    shards: int,
    payload_cols: tuple[str, ...] = (),
    partition_cols: tuple[str, ...] = ("shard",),
) -> str:
    """The `pack_documents` window mirror — ONE definition (review r12:
    three hand-copied instances could silently desynchronize) shared by
    `_pack_oracle`, the curation chain oracle, and the store-gate
    oracle: shard = hash % shards, n_tokens = least(ws tokens, budget),
    bin_id = floor((running − n)/budget) per ``partition_cols`` in
    doc_id order. ``payload_cols`` ride through unchanged."""
    h = _stable_hash_sql("CAST(doc_id AS VARCHAR)")
    toks = _ws_tokens_sql("text")
    pay = "".join(f"{c}, " for c in payload_cols)
    part = ", ".join(partition_cols)
    return f"""
        SELECT doc_id, {pay}shard, n_tokens,
               CAST(floor((SUM(n_tokens) OVER (PARTITION BY {part}
                                               ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING)
                           - n_tokens) / {budget}.0) AS BIGINT) AS bin_id
        FROM (
            SELECT doc_id, {pay}({h}) % {shards} AS shard,
                   least(CAST(len({toks}) AS BIGINT), {budget}) AS n_tokens
            FROM {table}
        )
    """


def _pack_oracle() -> str:
    return _pack_sql("documents", _PACK_BUDGET, _PACK_SHARDS)


def _sampling_surface_oracle() -> str:
    mix = _mix_oracle()
    pack = _pack_oracle()
    return f"""
    SELECT method, doc_id, source,
           CAST(-1 AS BIGINT) AS shard, CAST(-1 AS BIGINT) AS n_tokens,
           CAST(-1 AS BIGINT) AS bin_id
    FROM ({mix})
    UNION ALL
    SELECT 'pack' AS method, doc_id, '' AS source,
           CAST(shard AS BIGINT) AS shard, n_tokens, bin_id
    FROM ({pack})
    """


@register("sampling_surface", _sampling_surface_oracle())
def q_sampling_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole deterministic sampling/packing surface in one gate
    (r12 fold of the former `sample_mix_sources` + `pack_context_windows`
    keys, freeing driver slots for the state-store gates — the round-5
    consolidation precedent), four `method`-tagged sections:

    - 'rate': expected-rate per-source gates (`mix_sources` — one scan,
      no shuffle);
    - 'quota': exact per-source quotas (`stratified_sample` —
      hash-ordered rank window, "exactly N docs per source");
    - 'temp': temperature resampling over the skewed lang mixture
      (`temperature_sample` — XLM-R α-flattening, data-derived
      integer-quantized rates);
    - 'pack': token-budget sequence packing (`pack_documents` — greedy
      in-order binning per hash shard; bin columns carried, sampling
      sections filled with -1 sentinels)."""
    from manifold_spark.operators.sampling import (
        mix_sources,
        pack_documents,
        stratified_sample,
        temperature_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    neg = F.lit(-1).cast("long")

    def _mix_shape(df, method):
        return df.select(
            F.lit(method).alias("method"), "doc_id", "source",
            neg.alias("shard"), neg.alias("n_tokens"), neg.alias("bin_id"),
        )

    rate = _mix_shape(
        mix_sources(docs, "source", "doc_id", _MIX_RATES, default_rate=_MIX_DEFAULT),
        "rate",
    )
    quota = _mix_shape(
        stratified_sample(docs, "source", _QUOTA_PER_SOURCE, "doc_id"), "quota"
    )
    temp = _mix_shape(
        temperature_sample(docs, "lang", "doc_id", _TEMP_ALPHA, _TEMP_TARGET),
        "temp",
    )
    with_tokens = docs.select(
        "doc_id", textstats.token_count_ws(F.col("text")).alias("n_tok")
    )
    pack = pack_documents(
        with_tokens, "doc_id", "n_tok", _PACK_BUDGET, n_shards=_PACK_SHARDS
    ).select(
        F.lit("pack").alias("method"), "doc_id", F.lit("").alias("source"),
        F.col("shard").cast("long").alias("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("bin_id").cast("long").alias("bin_id"),
    )
    return rate.unionByName(quota).unionByName(temp).unionByName(pack)


# ---------------------------------------------------------------------------
# Embedding quantization: int8 vectors for ANN memory/IO reduction.
# ---------------------------------------------------------------------------

_QUANTIZE_ORACLE = """
    WITH m AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS am
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, embedding,
               CASE WHEN am > 0 THEN 127.0 / am ELSE 0.0 END AS scale
        FROM m
    )
    SELECT vec_id, scale,
           array_to_string(
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * scale) AS INT)), ',') AS q_str
    FROM s
"""


@register("emb_quantize_int8", _QUANTIZE_ORACLE)
def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization, int array comma-joined for the
    gate canonicalizer. Round is half-away-from-zero on both engines."""
    out = similarity.quantize_int8(_t(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        "scale",
        F.array_join(F.transform("q", lambda x: x.cast("string")), ",").alias("q_str"),
    )


# ---------------------------------------------------------------------------
# Vocabulary construction: top-k tokens by document frequency — the
# tokenizer-training precursor (and the df table behind stop-shingle caps).
# (r8: the `text_vocab_topk` KEY retired under the driver's 50-key cap —
# its two concepts stay driver-gated inside `text_bm25` below: the
# per-term document-frequency aggregate is BM25's df table over the same
# tokenizer, and the deterministic (metric desc, tiebreak) rank cut is
# BM25's per-query top-k. The engine function lives on as
# `textstats_vocab_topk` with pytest coverage; the freed slot went to
# `text_bm25`.)
# ---------------------------------------------------------------------------

_VOCAB_K = 100


def textstats_vocab_topk(docs: DataFrame, k: int = _VOCAB_K) -> DataFrame:
    """Top-k vocabulary by document frequency. The heavy part (per-token
    df counts) is one map-side-combined aggregation; the top-k itself is
    a distributed TakeOrdered (orderBy+limit), and the rank window runs
    over only the k surviving rows — no vocabulary-sized single-partition
    window."""
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(F.array_distinct(dedup.normalized_tokens(F.col("text")))).alias("token")
    )
    dfc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    top = dfc.orderBy(F.col("df").desc(), "token").limit(k)
    w = Window.orderBy(F.col("df").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# Train/eval contamination: n-gram collision against a benchmark source.
# ---------------------------------------------------------------------------

_CONTAM_N = 5


def _contamination_oracle() -> str:
    sh = _shingles_sql(_CONTAM_N)
    return f"""
    WITH toks AS (
        SELECT doc_id, source, {_TOKENS_SQL} AS toks FROM documents
    ),
    sh AS (SELECT doc_id, source, {sh} AS shingles FROM toks),
    tr AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE source <> 'src0'
    ),
    be AS (
        SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE source = 'src0'
    )
    SELECT t.doc_id, count(*) AS n_shared
    FROM tr t JOIN be USING (shingle)
    GROUP BY t.doc_id
    """


@register("text_contamination", _contamination_oracle())
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: treat source 'src0' as the benchmark set and
    flag every other document sharing at least one word 5-gram with it."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.contamination_check(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        "text",
        "doc_id",
        shingle_n=_CONTAM_N,
    )


# ---------------------------------------------------------------------------
# Substring-level (span) dedup: Lee et al. ACL'22 ExactSubstr, as fixed
# n-token rolling windows — detect + scrub spans duplicated anywhere in
# the corpus. Doc-level dedup cannot see these (r7).
# ---------------------------------------------------------------------------

SPAN_N = 12
SPAN_MIN_COUNT = 2


def _span_dedup_oracle(n: int = SPAN_N, min_count: int = SPAN_MIN_COUNT) -> str:
    """Full SQL mirror of `dedup.span_dedup`: positional rolling-window
    hashes (same md5-derived 63-bit longs), the corpus-wide ≥min_count
    duplicate test, per-doc sorted start lists, the covered-position set
    as a distinct flatten of per-start ranges, and the positional token
    scrub (DuckDB lambda indexes are 1-based where Spark's are 0-based —
    hence the i - 1). Integers and one IEEE division throughout ⇒
    hash-exact."""
    gram = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
    WITH tok AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    base AS (
        SELECT doc_id, toks, CAST(len(toks) AS INT) AS n_tokens,
               list_transform(
                   range(1, greatest(len(toks) - {n - 1}, 0) + 1),
                   i -> {_stable_hash_sql(gram)}
               ) AS hs
        FROM tok
    ),
    wins AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS pos, hs[i] AS h
        FROM base, unnest(range(1, len(hs) + 1)) t(i)
    ),
    duph AS (
        SELECT h FROM wins GROUP BY h HAVING count(*) >= {min_count}
    ),
    starts AS (
        SELECT doc_id, list(pos ORDER BY pos) AS starts
        FROM wins JOIN duph USING (h)
        GROUP BY doc_id
    ),
    enriched AS (
        SELECT b.doc_id, b.toks, b.n_tokens, b.hs,
               coalesce(s.starts, CAST([] AS INT[])) AS st,
               list_distinct(flatten(list_transform(
                   coalesce(s.starts, CAST([] AS INT[])),
                   s2 -> range(s2, s2 + {n})))) AS cov
        FROM base b LEFT JOIN starts s USING (doc_id)
    )
    SELECT doc_id,
           n_tokens,
           CAST(len(hs) AS INT) AS n_windows,
           CAST(len(st) AS INT) AS n_dup_windows,
           CAST(len(cov) AS INT) AS dup_tokens,
           CAST(len(cov) AS DOUBLE) / greatest(n_tokens, 1) AS dup_frac,
           coalesce(array_to_string(
               list_filter(toks, (t, i) -> NOT list_contains(cov, i - 1)), ' '
           ), '') AS text_kept
    FROM enriched
    """


@register("text_span_dedup", _span_dedup_oracle())
def q_text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup over the corpus: per document, how many
    12-token windows are duplicated anywhere (min_count=2), how many
    tokens those spans cover, and the scrubbed token stream. The one
    LLM-pipeline dedup modality doc-level operators cannot express —
    and the plan forms NO pairs (one count aggregate + one 8-byte-key
    join; see `dedup.span_dedup` for the 100 TB shape)."""
    return dedup.span_dedup(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        n=SPAN_N, min_count=SPAN_MIN_COUNT,
    )


# ---------------------------------------------------------------------------
# Gopher repetition signals: duplicate-line mass, top/duplicate n-gram
# character mass, symbol/bullet/ellipsis ratios (Rae et al. 2021 §A1).
# One exploded (doc, kind, gram) relation → map-side-combined counts →
# per-doc fold → join back to the scan-side line metrics; two shuffles,
# no token-level window, no pair formation (see operators/repetition.py).
# ---------------------------------------------------------------------------


def _repetition_oracle(table: str = "documents") -> str:
    """``table`` lets the curation gate point the identical signal
    pipeline at a derived corpus CTE (the `_minhash_oracle` pattern)."""
    from manifold_spark.operators import repetition as rep

    top_ns = sorted(rep.TOP_NGRAM_THRESHOLDS)
    dup_ns = sorted(rep.DUP_NGRAM_THRESHOLDS)
    scale = rep._TOP_CODE_SCALE
    es = rep._ENT_SCALE
    gram_units = []
    for n in sorted(set(top_ns) | set(dup_ns)):
        grams = (
            f"CASE WHEN len(toks) >= {n} THEN "
            f"list_transform(range(1, len(toks) - {n} + 2), "
            f"i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' ')) "
            f"ELSE [] END"
        )
        gram_units.append(
            f"SELECT doc_id, 'g{n}' AS kind, u.gram FROM d, UNNEST({grams}) AS u(gram)"
        )
    chars = (
        "CASE WHEN length(text) > 0 THEN "
        "list_transform(range(1, length(text) + 1), "
        "i -> substr(text, CAST(i AS INT), 1)) ELSE [] END"
    )
    units = "\n        UNION ALL\n        ".join(
        ["SELECT doc_id, 'line' AS kind, u.gram FROM d, UNNEST(lines) AS u(gram)",
         f"SELECT doc_id, 'c1' AS kind, u.gram FROM d, UNNEST({chars}) AS u(gram)"]
        + gram_units
    )
    pivot = ",\n               ".join(
        ["max(CASE WHEN kind = 'line' THEN total END) AS line_total",
         "max(CASE WHEN kind = 'line' THEN n_distinct END) AS line_distinct",
         "max(CASE WHEN kind = 'line' THEN dup_mass END) AS line_dup_mass",
         "max(CASE WHEN kind = 'c1' THEN total END) AS c1_total",
         "max(CASE WHEN kind = 'c1' THEN ent_sum_q END) AS c1_ent_sum_q"]
        + [f"max(CASE WHEN kind = 'g{n}' THEN top_code END) AS g{n}_top_code"
           for n in top_ns]
        + [f"max(CASE WHEN kind = 'g{n}' THEN dup_mass END) AS g{n}_dup_mass"
           for n in dup_ns]
    )
    top_fracs = ",\n           ".join(
        f"(CASE WHEN coalesce(g{n}_top_code, 0) // {scale} >= 2 "
        f"THEN (coalesce(g{n}_top_code, 0) // {scale}) * "
        f"(coalesce(g{n}_top_code, 0) % {scale}) ELSE 0 END) "
        f"/ greatest(n_chars, 1) AS top_{n}gram_char_frac"
        for n in top_ns
    )
    dup_fracs = ",\n           ".join(
        f"coalesce(g{n}_dup_mass, 0) / greatest(n_chars, 1) AS dup_{n}gram_char_frac"
        for n in dup_ns
    )
    pass_terms = " AND ".join(
        [f"dup_line_frac <= {rep.DUP_LINE_FRAC_MAX}",
         f"dup_line_char_frac <= {rep.DUP_LINE_CHAR_FRAC_MAX}"]
        + [f"top_{n}gram_char_frac <= {t}" for n, t in sorted(rep.TOP_NGRAM_THRESHOLDS.items())]
        + [f"dup_{n}gram_char_frac <= {t}" for n, t in sorted(rep.DUP_NGRAM_THRESHOLDS.items())]
    )
    toks = _ws_tokens_sql("lower(coalesce(text, ''))")
    raw_toks = _ws_tokens_sql("text")
    return f"""
    WITH d AS (
        SELECT doc_id, coalesce(text, '') AS text,
               {toks} AS toks,
               list_filter(regexp_split_to_array(coalesce(text, ''), '\\n'),
                           l -> length(trim(l)) > 0) AS lines
        FROM {table}
    ),
    units AS (
        {units}
    ),
    counts AS (
        SELECT doc_id, kind, gram, count(*) AS cnt FROM units GROUP BY doc_id, kind, gram
    ),
    k AS (
        SELECT doc_id, kind,
               sum(cnt) AS total,
               count(*) AS n_distinct,
               sum((cnt - 1) * length(gram)) AS dup_mass,
               max(cnt * {scale} + length(gram)) AS top_code,
               sum(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE)) * {es}.0) AS BIGINT))
                   AS ent_sum_q
        FROM counts GROUP BY doc_id, kind
    ),
    p AS (
        SELECT doc_id,
               {pivot}
        FROM k GROUP BY doc_id
    ),
    base AS (
        SELECT doc_id,
               CAST(length(text) AS INT) AS n_chars,
               CAST(len({raw_toks}) AS INT) AS n_tokens,
               CAST(len(lines) AS INT) AS n_lines,
               CAST(len(regexp_extract_all(text, '{rep.SYMBOL_PATTERN}')) AS INT) AS n_symbols,
               CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '{rep.BULLET_PATTERN}'))) AS INT) AS n_bullet,
               CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '{rep.ELLIPSIS_PATTERN}'))) AS INT) AS n_ellipsis
        FROM d
    ),
    joined AS (
        SELECT b.doc_id, n_lines,
           CASE WHEN coalesce(line_total, 0) > 0
                THEN (line_total - coalesce(line_distinct, 0)) / line_total
                ELSE 0.0 END AS dup_line_frac,
           coalesce(line_dup_mass, 0) / greatest(n_chars, 1) AS dup_line_char_frac,
           {top_fracs},
           {dup_fracs},
           n_symbols / greatest(n_tokens, 1) AS symbol_word_ratio,
           n_bullet / greatest(n_lines, 1) AS bullet_line_frac,
           n_ellipsis / greatest(n_lines, 1) AS ellipsis_line_frac,
           CASE WHEN coalesce(c1_total, 0) > 0 THEN
               CAST(coalesce(c1_total, 0)
                        * CAST(floor(ln(CAST(c1_total AS DOUBLE)) * {es}.0) AS BIGINT)
                    - coalesce(c1_ent_sum_q, 0) AS DOUBLE)
               / CAST(coalesce(c1_total, 0) * {es} AS DOUBLE)
           ELSE 0.0 END AS char_entropy
        FROM base b LEFT JOIN p USING (doc_id)
    )
    SELECT *, ({pass_terms}) AS repetition_pass FROM joined
    """


@register("text_repetition", _repetition_oracle())
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher repetition/formatting signals. The corpus has no
    newlines, so the line metrics gate at their degenerate values here
    (1 line, 0 dup) — crafted multi-line corpora pin them in
    tests/test_textquality.py (same honest split as the HTML lookahead);
    the n-gram mass metrics are fully exercised by this word-soup corpus."""
    from manifold_spark.operators.repetition import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Char-trigram LM quality scoring (CCNet-style perplexity filter): add-k
# smoothed trigram model trained on the corpus, each doc scored by average
# log-probability. Per-trigram log terms are floor-quantized to integers
# in the model table, so the per-doc reduction is an exact integer sum —
# order-independent across engines (see operators/lm.py).
# ---------------------------------------------------------------------------


def _lm_oracle(
    table: str = "documents", min_trigrams: int = 0,
    with_cut_check: bool = False,
) -> str:
    """``table`` lets the curation gate train + score the identical LM
    chain over a derived corpus CTE; ``min_trigrams`` excludes degenerate
    docs (NULL score) BEFORE the tertile split, mirroring
    curate_corpus's quality-stage filter. ``with_cut_check`` (r13,
    VERDICT r12 #5) appends the union-tagged 'cut' section that
    adjudicates `lm.ppl_threshold_cuts`' approx_percentile cutpoints:
    DuckDB computes each cut's exact rank-neighbor window
    [(k−1)th, (k+1)th ranked score] (k = ceil(q·n), ascending, NULLs
    out) and expects ``cut_in_bounds = TRUE`` — the Spark side emits
    the measured boolean, so a t-digest/GK cut drifting outside its
    exact neighborhood hash-mismatches."""
    from manifold_spark.operators import lm

    k, scale = lm.SMOOTH_K, lm.TERM_SCALE
    cut_sql = ""
    if with_cut_check:
        accuracy = lm.PPL_CUT_ACCURACY
        cut_sql = f"""
    , rk AS (
        SELECT lang, avg_logprob,
               row_number() OVER (PARTITION BY lang ORDER BY avg_logprob)
                   AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM scored WHERE avg_logprob IS NOT NULL
    ),
    ks AS (
        SELECT lang, n, i,
               CAST(ceil((1 - i / 3.0) * n) AS BIGINT) AS kk,
               greatest(CAST(1 AS BIGINT),
                        CAST(ceil(n / {accuracy}.0) AS BIGINT)) AS rad
        FROM (SELECT DISTINCT lang, n FROM rk) CROSS JOIN (VALUES (1), (2)) t(i)
    ),
    cutsec AS (
        SELECT 'cut' AS section, CAST(NULL AS BIGINT) AS doc_id, ks.lang,
               CAST(NULL AS INT) AS n_trigrams,
               CAST(NULL AS DOUBLE) AS avg_logprob,
               CAST(i AS INT) AS ppl_bucket, 'cut' AS ppl_bucket_label,
               lo.avg_logprob AS cut_lo, hi.avg_logprob AS cut_hi,
               TRUE AS cut_in_bounds
        FROM ks
        JOIN rk lo ON lo.lang = ks.lang AND lo.rn = greatest(1, kk - rad)
        JOIN rk hi ON hi.lang = ks.lang AND hi.rn = least(ks.n, kk + rad)
    )
        """
    return f"""
    WITH nd AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        FROM {table}
    ),
    tri AS (
        SELECT doc_id, substr(norm, CAST(i AS INT), 3) AS tri
        FROM nd, UNNEST(range(1, length(norm) - 1)) AS t(i)
    ),
    c3 AS (SELECT tri, count(*) AS c3 FROM tri GROUP BY tri),
    c2 AS (SELECT substr(tri, 1, 2) AS prefix, sum(c3) AS c2 FROM c3 GROUP BY 1),
    v AS (
        SELECT count(DISTINCT substr(norm, CAST(i AS INT), 1)) AS v
        FROM nd, UNNEST(range(1, length(norm) + 1)) AS t(i)
    ),
    model AS (
        SELECT c3.tri,
               CAST(floor(ln(CAST(c3.c3 + {k} AS DOUBLE)
                             / CAST(c2.c2 + {k} * v.v AS DOUBLE))
                          * {scale}.0) AS BIGINT) AS term_q
        FROM c3 JOIN c2 ON substr(c3.tri, 1, 2) = c2.prefix CROSS JOIN v
    ),
    s AS (
        SELECT doc_id, sum(term_q) AS sum_q, count(*) AS n_tri
        FROM tri JOIN model USING (tri) GROUP BY doc_id
    )
    ,
    scored AS (
        SELECT d.doc_id, d.lang,
               CAST(coalesce(n_tri, 0) AS INT) AS n_trigrams,
               CAST(sum_q AS DOUBLE) / CAST(n_tri * {scale} AS DOUBLE)
                   AS avg_logprob
        FROM {table} d LEFT JOIN s ON d.doc_id = s.doc_id
    ),
    docsec AS (
        SELECT doc_id, lang, n_trigrams, avg_logprob,
               CAST(b AS INT) AS ppl_bucket,
               (['head', 'middle', 'tail'])[b] AS ppl_bucket_label
        FROM (
            SELECT *, ntile(3) OVER (PARTITION BY lang
                                     ORDER BY avg_logprob DESC, doc_id) AS b
            FROM scored
            WHERE n_trigrams >= {min_trigrams}
        )
    ){cut_sql}
    SELECT {"'doc' AS section, " if with_cut_check else ""}doc_id, lang,
           n_trigrams, avg_logprob, ppl_bucket, ppl_bucket_label
           {(", CAST(NULL AS DOUBLE) AS cut_lo, CAST(NULL AS DOUBLE) AS cut_hi,"
             " CAST(NULL AS BOOLEAN) AS cut_in_bounds") if with_cut_check else ""}
    FROM docsec
    {"UNION ALL SELECT * FROM cutsec" if with_cut_check else ""}
    """


@register("text_lm_score", _lm_oracle(with_cut_check=True))
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-scored corpus (train + score on `documents`) — the standard
    corpus-filtering setup — plus CCNet's per-language head/middle/tail
    perplexity tertiles (r9: `lm.ppl_buckets` rides the same gate; the
    sort-free threshold form for 100 TB is `lm.ppl_threshold_buckets`,
    pinned against this exact split in pytest). Held-out scoring with
    unseen-trigram pricing is pinned in tests/test_textquality.py.

    Section 'cut' (r13, VERDICT r12 #5 — the approx-percentile
    production path, externally adjudicated): for each (lang,
    cut_index) the gate emits `lm.ppl_threshold_cuts`' approx cut
    checked against its exact rank-neighbor window — cut_lo/cut_hi are
    the (k−1)th/(k+1)th exact-ranked scores (k = ceil(q·n), ascending,
    NULL scores out; both engines compute them independently and they
    hash-compare bit-exact) and `cut_in_bounds` is the measured
    boolean the oracle expects TRUE. The cut VALUE itself is
    deliberately not emitted: Greenwald-Khanna has no cross-engine
    mirror — the bounds check is exactly what IS adjudicable."""
    from pyspark.sql import Window

    from manifold_spark.operators.lm import (
        PPL_CUT_ACCURACY as _PPL_CUT_ACCURACY,
        ppl_buckets,
        ppl_threshold_cuts,
        score_docs,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = score_docs(docs).join(docs.select("doc_id", "lang"), "doc_id")
    doc_rows = ppl_buckets(scored, group_col="lang").select(
        F.lit("doc").alias("section"),
        "doc_id", "lang", "n_trigrams", "avg_logprob",
        "ppl_bucket", "ppl_bucket_label",
        F.lit(None).cast("double").alias("cut_lo"),
        F.lit(None).cast("double").alias("cut_hi"),
        F.lit(None).cast("boolean").alias("cut_in_bounds"),
    )

    nn = scored.filter(F.col("avg_logprob").isNotNull())
    w = Window.partitionBy("lang").orderBy("avg_logprob")
    ranked = nn.select("lang", "avg_logprob").withColumn(
        "rn", F.row_number().over(w).cast("long")
    )
    ks = (
        nn.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "lang", "n",
            F.explode(F.array(F.lit(1), F.lit(2))).alias("cut_index"),
        )
        .withColumn(
            "kk",
            F.ceil(
                (F.lit(1.0) - F.col("cut_index") / F.lit(3.0)) * F.col("n")
            ).cast("long"),
        )
        # window radius = the approx_percentile rank-error bound
        # ceil(n/accuracy) (>=1): with the default accuracy the check is
        # exact-neighbor for groups up to 10k scores and stays SOUND —
        # never spuriously red — beyond it (review r13: a +-1 window
        # with n=100k would fail a conformant GK cut at rank k+-10).
        .withColumn(
            "rad",
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.col("n") / F.lit(float(_PPL_CUT_ACCURACY))).cast("long"),
            ),
        )
        .withColumn(
            "lo_rank",
            F.greatest(F.lit(1).cast("long"), F.col("kk") - F.col("rad")),
        )
        .withColumn("hi_rank", F.least(F.col("n"), F.col("kk") + F.col("rad")))
    )
    lo = ranked.select(
        "lang", F.col("rn").alias("lo_rank"), F.col("avg_logprob").alias("cut_lo")
    )
    hi = ranked.select(
        "lang", F.col("rn").alias("hi_rank"), F.col("avg_logprob").alias("cut_hi")
    )
    cuts = ppl_threshold_cuts(scored, group_col="lang")
    cut_rows = (
        ks.join(cuts, "lang")
        .join(lo, ["lang", "lo_rank"])
        .join(hi, ["lang", "hi_rank"])
        .withColumn("cut", F.element_at("cuts", F.col("cut_index")))
        .select(
            F.lit("cut").alias("section"),
            F.lit(None).cast("long").alias("doc_id"),
            "lang",
            F.lit(None).cast("int").alias("n_trigrams"),
            F.lit(None).cast("double").alias("avg_logprob"),
            F.col("cut_index").cast("int").alias("ppl_bucket"),
            F.lit("cut").alias("ppl_bucket_label"),
            "cut_lo",
            "cut_hi",
            (
                (F.col("cut") >= F.col("cut_lo"))
                & (F.col("cut") <= F.col("cut_hi"))
            ).alias("cut_in_bounds"),
        )
    )
    return doc_rows.unionByName(cut_rows)


# ---------------------------------------------------------------------------
# BM25 sparse retrieval: the lexical half of the retrieval pair beside
# the dense ANN tier. Postings never shuffle by term — query terms and
# the query-term df table broadcast against the doc-keyed tf relation;
# per-(query, doc) contributions are floor-quantized integers so the
# score sum is order-independent (see operators/bm25.py).
# ---------------------------------------------------------------------------

_BM25_K = 10


def _bm25_oracle() -> str:
    from manifold_spark.operators import bm25 as _bm25

    qvals = ", ".join(f"({qid}, '{qt}')" for qid, qt in _bm25.GATE_QUERIES)
    qtoks = _TOKENS_SQL.replace("regexp_replace(text,", "regexp_replace(qtext,")
    k1, b, scale = _bm25.K1, _bm25.B, _bm25.SCORE_SCALE
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    idf = ("ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)"
           " + 1.0)")
    tfnorm = (
        f"(CAST(tf AS DOUBLE) * {k1 + 1.0}) / (CAST(tf AS DOUBLE) + {k1} * "
        f"({1.0 - b} + {b} * (CAST(dl AS DOUBLE) / {avgdl})))"
    )
    return f"""
    WITH q(query_id, qtext) AS (VALUES {qvals}),
    toks AS (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
    stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM toks),
    tf AS (
        SELECT doc_id, len(toks) AS dl, t.term, count(*) AS tf
        FROM toks, UNNEST(toks) AS t(term)
        GROUP BY doc_id, len(toks), t.term
    ),
    qt AS (SELECT DISTINCT query_id, t.term FROM q, UNNEST({qtoks}) AS t(term)),
    dfq AS (
        SELECT term, count(*) AS df
        FROM tf JOIN (SELECT DISTINCT term FROM qt) USING (term)
        GROUP BY term
    ),
    contrib AS (
        SELECT qt.query_id, tf.doc_id,
               CAST(floor({idf} * {tfnorm} * {scale}.0) AS BIGINT) AS c
        FROM tf JOIN qt USING (term) JOIN dfq USING (term) CROSS JOIN stats
    ),
    s AS (SELECT query_id, doc_id, sum(c) AS score_q, count(*) AS n_matched
          FROM contrib GROUP BY 1, 2),
    nt AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1),
    ranked_or AS (
        SELECT query_id, doc_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_q DESC, doc_id) AS INT) AS rank,
               CAST(score_q AS DOUBLE) / {scale}.0 AS score
        FROM s
        QUALIFY rank <= {_BM25_K}
    ),
    ranked_and AS (
        SELECT query_id, doc_id,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_q DESC, doc_id) AS INT) AS rank,
               CAST(score_q AS DOUBLE) / {scale}.0 AS score
        FROM s JOIN nt USING (query_id)
        WHERE n_matched = n_terms
        QUALIFY rank <= {_BM25_K}
    )
    SELECT 'or' AS mode, * FROM ranked_or
    UNION ALL
    SELECT 'and', * FROM ranked_and
    """


@register("text_bm25", _bm25_oracle())
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 matches for the fixed gate query set, BOTH retrieval
    modes union-tagged by `mode` (r8 extension): disjunctive bag-of-terms
    scoring beside conjunctive every-term-required filtering. Carries the
    two concepts of the retired `text_vocab_topk` key: the per-term
    document-frequency aggregate (BM25's df table, same tokenizer) and
    the deterministic metric-desc rank cut."""
    from manifold_spark.operators.bm25 import bm25_topk, gate_queries_df

    docs = _t(spark, sf_dir, "documents")
    q = gate_queries_df(spark)
    disj = bm25_topk(docs, q, k=_BM25_K, mode="or").select(
        F.lit("or").alias("mode"), "query_id", "doc_id", "rank", "score"
    )
    conj = bm25_topk(docs, q, k=_BM25_K, mode="and").select(
        F.lit("and").alias("mode"), "query_id", "doc_id", "rank", "score"
    )
    return disj.unionByName(conj)


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (operators/bpe.py, Sennrich et al.
# 2016): the corpus is read ONCE into a vocab-bounded word table; each
# merge round is a pair-count aggregate + deterministic argmax + one
# plain `replace` over pipe-wrapped symbol strings (greedy leftmost
# non-overlapping — BPE's merge rule — identical on both engines, no
# lookahead regex). The oracle unrolls every round as CTEs with the same
# tie-break and a LEFT-JOIN-ON-TRUE rewrite so an exhausted round is a
# no-op on both sides.
# ---------------------------------------------------------------------------

#: Gate training depth / stop threshold (shared by the oracle below).
BPE_GATE_MERGES = 8
BPE_GATE_MIN_FREQ = 2


def _bpe_oracle() -> str:
    from manifold_spark.operators.bpe import EOW

    syms0 = (
        "'|' || array_to_string(list_transform(range(1, length(word) + 1), "
        "i -> substr(word, CAST(i AS INT), 1)), '||') || '||" + EOW + "|'"
    )
    parts = [
        f"""w_0 AS (
        SELECT word, freq, {syms0} AS syms
        FROM (
            SELECT word, count(*) AS freq
            FROM (SELECT unnest(toks) AS word
                  FROM (SELECT {_TOKENS_SQL} AS toks FROM documents))
            GROUP BY word
        )
    )"""
    ]
    for i in range(1, BPE_GATE_MERGES + 1):
        parts.append(f"""p_{i} AS (
        SELECT q.s[j] AS a, q.s[j + 1] AS b, SUM(q.freq) AS cnt
        FROM (SELECT freq,
                     string_split(substr(syms, 2, length(syms) - 2), '||') AS s
              FROM w_{i - 1}) q,
             UNNEST(range(1, greatest(len(q.s) - 1, 0) + 1)) AS t(j)
        GROUP BY 1, 2
    )""")
        parts.append(f"""b_{i} AS (
        SELECT a, b, cnt FROM p_{i}
        WHERE cnt >= {BPE_GATE_MIN_FREQ}
        ORDER BY cnt DESC, a, b LIMIT 1
    )""")
        parts.append(f"""w_{i} AS (
        SELECT word, freq,
               CASE WHEN b.a IS NOT NULL
                    THEN replace(syms, '|' || b.a || '||' || b.b || '|',
                                 '|' || b.a || b.b || '|')
                    ELSE syms END AS syms
        FROM w_{i - 1} LEFT JOIN b_{i} b ON TRUE
    )""")
    merge_rows = "\n    UNION ALL\n    ".join(
        f"SELECT 'merge' AS kind, CAST({i} AS INT) AS round, a, b, "
        f"CAST(cnt AS BIGINT) AS pair_freq, '' AS word, "
        f"CAST(-1 AS BIGINT) AS freq, '' AS syms FROM b_{i}"
        for i in range(1, BPE_GATE_MERGES + 1)
    )
    # Document encoding under the final vocabulary (bpe.bpe_encode): each
    # doc's tokens in word order, every word's subwords looked up in the
    # trained word table (the corpus trained the table, so the join is
    # total here; the OOV char+EOW fallback is pytest-pinned). `syms` is
    # the '||'-joined token stream — the driver canonicalizer cannot sort
    # array columns, so the gate emits the joined scalar.
    parts.append(f"""dx AS (
        SELECT doc_id, CAST(j AS INT) AS pos, toks[j] AS word
        FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents),
             UNNEST(range(1, len(toks) + 1)) AS t(j)
    )""")
    parts.append(f"""denc AS (
        SELECT x.doc_id,
               string_agg(substr(w.syms, 2, length(w.syms) - 2),
                          '||' ORDER BY x.pos) AS joined
        FROM dx x JOIN w_{BPE_GATE_MERGES} w USING (word)
        GROUP BY x.doc_id
    )""")
    parts.append("""ddoc AS (
        SELECT d.doc_id, coalesce(e.joined, '') AS joined
        FROM documents d LEFT JOIN denc e USING (doc_id)
    )""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    {merge_rows}
    UNION ALL
    SELECT 'word' AS kind, CAST(-1 AS INT) AS round, '' AS a, '' AS b,
           CAST(-1 AS BIGINT) AS pair_freq, word, freq, syms
    FROM w_{BPE_GATE_MERGES}
    UNION ALL
    SELECT 'doc' AS kind, CAST(-1 AS INT) AS round, '' AS a, '' AS b,
           CAST(-1 AS BIGINT) AS pair_freq,
           CAST(doc_id AS VARCHAR) AS word,
           CAST(CASE WHEN joined = '' THEN 0
                     ELSE len(string_split(joined, '||')) END AS BIGINT) AS freq,
           joined AS syms
    FROM ddoc
    """


@register("text_bpe", _bpe_oracle())
def q_text_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE training AND encoding, union-tagged by `kind`: the learned
    merge list (round, pair, frequency), the final per-word subword
    table, and (r9) every document's encoded token stream under the
    trained vocabulary (`bpe.bpe_encode` — broadcast word→subwords map)
    as '||'-joined scalars. The OOV char+EOW fallback (unreachable when
    encoding the training corpus) stays pinned against a pure-Python BPE
    in tests/test_textquality.py."""
    from manifold_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    merges, words = bpe.train_bpe(
        docs, BPE_GATE_MERGES, min_pair_freq=BPE_GATE_MIN_FREQ
    )
    merge_rows = spark.createDataFrame(
        [(i + 1, a, b, cnt) for i, (a, b, cnt) in enumerate(merges)],
        "round int, a string, b string, pair_freq long",
    ).select(
        F.lit("merge").alias("kind"),
        "round",
        "a",
        "b",
        "pair_freq",
        F.lit("").alias("word"),
        F.lit(-1).cast("bigint").alias("freq"),
        F.lit("").alias("syms"),
    )
    word_rows = words.select(
        F.lit("word").alias("kind"),
        F.lit(-1).cast("int").alias("round"),
        F.lit("").alias("a"),
        F.lit("").alias("b"),
        F.lit(-1).cast("bigint").alias("pair_freq"),
        "word",
        "freq",
        "syms",
    )
    doc_rows = bpe.bpe_encode(docs, words).select(
        F.lit("doc").alias("kind"),
        F.lit(-1).cast("int").alias("round"),
        F.lit("").alias("a"),
        F.lit("").alias("b"),
        F.lit(-1).cast("bigint").alias("pair_freq"),
        F.col("doc_id").cast("string").alias("word"),
        F.col("n_tokens").cast("bigint").alias("freq"),
        F.array_join("tokens", "||").alias("syms"),
    )
    return merge_rows.unionByName(word_rows).unionByName(doc_rows)


# ---------------------------------------------------------------------------
# Line-level corpus dedup (CCNet shard dedup): hash every trimmed line,
# drop non-first occurrences of lines appearing ≥2× corpus-wide, and
# reassemble each document from its surviving lines. The corpus has no
# newlines, so the gate chunks every 5 tokens into a line with ONE
# regexp_replace mirrored on both engines — duplicated 5-token chunks
# are plentiful in the word-soup corpus (~270 duplicated lines at
# sf0.001), so the drop path, first-occurrence argmin, and scrub are all
# exercised with real signal (see dedup.line_dedup for the 100 TB shape).
# ---------------------------------------------------------------------------

#: 5-token line chunking for the gate corpus (matched Java/RE2 regex).
_LINE_CHUNK_PATTERN = r"((?:\S+ ){4}\S+) "


def _line_dedup_oracle() -> str:
    from manifold_spark.operators.dedup import _LINE_OCC_SHIFT

    chunk = (
        f"regexp_replace(coalesce(text, ''), '{_LINE_CHUNK_PATTERN}', "
        "'\\1' || chr(10), 'g')"
    )
    lines = (
        f"list_filter(list_transform(regexp_split_to_array({chunk}, "
        "chr(10)), l -> trim(l)), l -> l <> '')"
    )
    return f"""
    WITH d AS (
        SELECT doc_id, {lines} AS lines FROM documents
    ),
    ex AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS pos, lines[i] AS line
        FROM d, UNNEST(range(1, len(lines) + 1)) AS t(i)
    ),
    occ AS (
        SELECT doc_id, pos, {_stable_hash_sql('line')} AS h,
               doc_id * {_LINE_OCC_SHIFT} + pos AS occ
        FROM ex
    ),
    duph AS (
        SELECT h, min(occ) AS first_occ
        FROM occ GROUP BY h HAVING count(*) >= 2
    ),
    drops AS (
        SELECT doc_id, list(pos ORDER BY pos) AS drops
        FROM occ JOIN duph USING (h)
        WHERE occ <> first_occ
        GROUP BY doc_id
    ),
    joined AS (
        SELECT d.doc_id, d.lines,
               coalesce(r.drops, CAST([] AS INT[])) AS drops
        FROM d LEFT JOIN drops r USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(lines) AS INT) AS n_lines,
           CAST(len(drops) AS INT) AS n_dup_lines,
           CAST(coalesce(list_sum(list_transform(drops,
                    p -> length(lines[p + 1]))), 0) AS INT) AS chars_removed,
           CAST(len(drops) AS DOUBLE) / greatest(len(lines), 1) AS dup_line_frac,
           coalesce(array_to_string(
               list_filter(lines, (l, i) -> NOT list_contains(drops, i - 1)),
               chr(10)), '') AS text_kept
    FROM joined
    """


# ---------------------------------------------------------------------------
# C4 heuristic cleaning (Raffel et al. 2020): terminal-punctuation +
# min-words + boilerplate-term line rules, lorem-ipsum/brace/blocklist
# document rules. The corpus has neither newlines nor punctuation, so the
# gate derives both with ONE mirrored regexp_replace — every full 5-token
# chunk becomes a period-terminated line; the tail chunk stays
# unpunctuated (and is dropped by the punct rule with real signal). The
# 'spark' line-drop term and 'slow join' blocklist phrase both occur in
# the corpus, so the term rules also engage. Raw multi-line/brace/lorem
# semantics are pinned in tests/test_textquality.py.
# ---------------------------------------------------------------------------

#: Gate parameters, shared by the Spark query and the oracle below.
C4_LINE_DROP_TERMS = ("javascript", "spark")
C4_BLOCKLIST = ("lorem ipsum", "slow join")


def _c4_rules_sql(
    table: str,
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    line_drop_terms: tuple[str, ...] = C4_LINE_DROP_TERMS,
    blocklist: tuple[str, ...] = C4_BLOCKLIST,
    require_terminal_punct: bool = True,
) -> str:
    """The full C4 line+document rule chain over ``table`` rows
    (doc_id, text) — parameterized so the curation gate can point the
    identical rules at a derived corpus CTE."""
    punct = (
        "substr(x, length(x), 1) IN ('.', '!', '?', '\"') AND "
        if require_terminal_punct
        else ""
    )
    line_drop = " AND ".join(
        f"NOT contains(lower(x), '{t}')" for t in line_drop_terms
    )
    blocked = " OR ".join(
        f"contains(lower(text), '{p}')" for p in blocklist
    )
    keep_line = (
        f"x -> {punct}"
        "len(list_filter(regexp_split_to_array(x, '\\s+'), t -> t <> '')) "
        f">= {min_words_per_line} AND {line_drop}"
    )
    return f"""
    WITH l AS (
        SELECT doc_id, coalesce(text, '') AS text,
               list_filter(list_transform(
                   regexp_split_to_array(coalesce(text, ''), chr(10)),
                   x -> trim(x)), x -> x <> '') AS lines
        FROM {table}
    ),
    k AS (
        SELECT doc_id, text, lines, list_filter(lines, {keep_line}) AS kept
        FROM l
    )
    SELECT doc_id,
           CAST(len(lines) AS INT) AS n_lines,
           CAST(len(kept) AS INT) AS n_kept_lines,
           coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
           CAST(CASE WHEN contains(text, '{{') THEN 1 ELSE 0 END AS INT) AS has_brace,
           CAST(CASE WHEN {blocked} THEN 1 ELSE 0 END AS INT) AS has_blocklisted,
           CAST(CASE WHEN len(kept) >= {min_kept_lines}
                          AND NOT contains(text, '{{')
                          AND NOT ({blocked})
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM k
    """


def _c4_oracle() -> str:
    chunk = (
        f"regexp_replace(coalesce(text, ''), '{_LINE_CHUNK_PATTERN}', "
        "'\\1.' || chr(10), 'g')"
    )
    return _c4_rules_sql(f"(SELECT doc_id, {chunk} AS text FROM documents)")


@register("text_c4_filters", _c4_oracle())
def q_text_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line+document heuristics over the 5-token-chunked,
    period-terminated corpus (see `operators.c4`). One projection, zero
    shuffle — the whole decision surface (counts, cleaned text, flags,
    keep bit) is driver-gated per document."""
    from manifold_spark.operators.c4 import c4_filters

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), _LINE_CHUNK_PATTERN, "$1.\n"
        ),
    )
    return c4_filters(
        docs,
        min_words_per_line=5,
        min_kept_lines=3,
        line_drop_terms=C4_LINE_DROP_TERMS,
        blocklist=C4_BLOCKLIST,
    )


@register("text_line_dedup", _line_dedup_oracle())
def q_text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line dedup over the 5-token-chunked corpus: drop every
    non-first occurrence of a line duplicated anywhere (min_count=2,
    keep='first'), reassemble, and report per-doc removal stats. The
    keep='none' variant and raw multi-line semantics are pinned in
    tests/test_textquality.py."""
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), _LINE_CHUNK_PATTERN, "$1\n"
        ),
    )
    return dedup.line_dedup(docs, "text", "doc_id", min_count=2, keep="first")


# ---------------------------------------------------------------------------
# Hashed-feature NB text classifier (fastText-style supervised filter):
# trained on the corpus's lang labels, applied back to every document —
# the quality/domain-classifier stage of LLM pipelines as one aggregation
# pass + broadcast-model scoring (see operators/classifier.py).
# ---------------------------------------------------------------------------


#: The DSIR gate's target-domain definition: English documents are the
#: "target" pool, everything else the "raw" crawl — mirrored between the
#: Spark query and the oracle below.
DSIR_TARGET_LANG = "en"


def _nb_cte_block(label_sql: str, p: str) -> str:
    """The full NB training + per-(doc, class) scoring CTE chain for an
    arbitrary label expression over `documents`, with every CTE name
    prefixed by ``p`` — used twice by `_classifier_oracle`: once with the
    corpus's lang labels (the classifier section) and once with the
    two-class target/raw split (the DSIR section)."""
    from manifold_spark.operators import classifier as clf

    B, S, a = clf.N_BUCKETS, clf.SCORE_SCALE, clf.ALPHA
    bigrams = (
        "CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)), "
        "i -> toks[i] || ' ' || toks[i + 1]) ELSE [] END"
    )
    bucket = f"({_stable_hash_sql('gram', seed=clf.FEATURE_SEED)}) % {B}"
    return f"""
    {p}toks AS (
        SELECT doc_id, {label_sql} AS label, {_TOKENS_SQL} AS toks FROM documents
    ),
    {p}grams AS (
        SELECT doc_id, label, u.gram
        FROM {p}toks, UNNEST(list_concat(toks, {bigrams})) AS u(gram)
    ),
    {p}feats AS (
        SELECT doc_id, label, {bucket} AS bucket FROM {p}grams
    ),
    {p}cnt AS (
        SELECT label, bucket, count(*) AS cnt FROM {p}feats GROUP BY 1, 2
    ),
    {p}class_tot AS (SELECT label, sum(cnt) AS class_total FROM {p}cnt GROUP BY 1),
    {p}ndc AS (SELECT {label_sql} AS label, count(*) AS n_docs_c
               FROM documents GROUP BY 1),
    {p}nd AS (SELECT count(*) AS n_docs FROM documents),
    {p}class_table AS (
        SELECT label,
               CAST(floor(ln(CAST(n_docs_c AS DOUBLE) / CAST(n_docs AS DOUBLE))
                          * {S}.0) AS BIGINT) AS prior_q,
               CAST(floor(ln(CAST({a} AS DOUBLE)
                             / CAST(coalesce(class_total, 0) + {a} * {B} AS DOUBLE))
                          * {S}.0) AS BIGINT) AS default_q,
               coalesce(class_total, 0) AS class_total
        FROM {p}ndc LEFT JOIN {p}class_tot USING (label) CROSS JOIN {p}nd
    ),
    {p}buckets AS (SELECT DISTINCT bucket FROM {p}cnt),
    {p}model AS (
        SELECT b.bucket, ct.label,
               CAST(floor(ln(CAST(coalesce(c.cnt, 0) + {a} AS DOUBLE)
                             / CAST(ct.class_total + {a} * {B} AS DOUBLE))
                          * {S}.0) AS BIGINT) AS w_q
        FROM {p}buckets b CROSS JOIN {p}class_table ct
        LEFT JOIN {p}cnt c ON c.bucket = b.bucket AND c.label = ct.label
    ),
    {p}dfeat AS (SELECT doc_id, bucket, count(*) AS tf FROM {p}feats GROUP BY 1, 2),
    {p}m AS (
        SELECT f.doc_id, mo.label, sum(f.tf * mo.w_q) AS m_sum,
               sum(f.tf) AS matched_tf
        FROM {p}dfeat f JOIN {p}model mo USING (bucket) GROUP BY 1, 2
    ),
    {p}tft AS (SELECT doc_id, sum(tf) AS total_tf FROM {p}dfeat GROUP BY 1),
    {p}pc AS (
        SELECT d.doc_id, ct.label,
               ct.prior_q + coalesce(m.m_sum, 0)
               + (coalesce(t.total_tf, 0) - coalesce(m.matched_tf, 0))
                 * ct.default_q AS score_q
        FROM documents d
        LEFT JOIN {p}tft t USING (doc_id)
        CROSS JOIN {p}class_table ct
        LEFT JOIN {p}m m ON m.doc_id = d.doc_id AND m.label = ct.label
    )"""


def _classifier_oracle() -> str:
    from manifold_spark.operators import classifier as clf

    S = clf.SCORE_SCALE
    nb = _nb_cte_block("lang", "")
    dsir_label = (
        f"CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 'target' ELSE 'raw' END"
    )
    ds = _nb_cte_block(dsir_label, "b_")
    return f"""
    WITH {nb},
    r AS (
        SELECT doc_id, label, score_q,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score_q DESC, label) AS rnk,
               lead(score_q) OVER (PARTITION BY doc_id
                                   ORDER BY score_q DESC, label) AS next_q
        FROM pc
    ),
    {ds},
    b_scores AS (
        SELECT doc_id,
               max(CASE WHEN label = 'target' THEN score_q END) AS t_q,
               max(CASE WHEN label = 'raw' THEN score_q END) AS r_q
        FROM b_pc GROUP BY doc_id
    ),
    b_priors AS (
        SELECT max(CASE WHEN label = 'target' THEN prior_q END) AS pt_q,
               max(CASE WHEN label = 'raw' THEN prior_q END) AS pr_q
        FROM b_class_table
    ),
    b_nf AS (
        SELECT doc_id,
               len(toks) + greatest(len(toks) - 1, 0) AS n_features
        FROM b_toks
    )
    SELECT 'nb' AS section, d.doc_id, d.lang AS label_true, r.label AS pred,
           CAST(score_q AS DOUBLE) / {S}.0 AS score,
           CAST(coalesce(score_q - next_q, 0) AS DOUBLE) / {S}.0 AS margin,
           CAST(-1 AS INT) AS n_features, 0.0 AS logratio
    FROM r JOIN documents d USING (doc_id)
    WHERE rnk = 1
    UNION ALL
    SELECT 'dsir' AS section, s.doc_id, '' AS label_true, '' AS pred,
           0.0 AS score, 0.0 AS margin,
           CAST(nf.n_features AS INT) AS n_features,
           CAST((t_q - r_q) - (pt_q - pr_q) AS DOUBLE) / {S}.0 AS logratio
    FROM b_scores s CROSS JOIN b_priors JOIN b_nf nf USING (doc_id)
    """


@register("text_classifier_nb", _classifier_oracle())
def q_text_classifier_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two sections union-tagged by `section` (the `sample_mix_sources`
    method-union pattern):

    - 'nb': the hashed uni+bigram NB classifier trained on the corpus's
      lang labels and applied to every document (the fit-on-seed,
      apply-everywhere curation setup);
    - 'dsir': DSIR importance log-ratios for every document under the
      target='{en}' vs raw two-class split (`classifier.dsir_logratio`,
      r9 fold — the last LLM-brief technique gets a driver row).

    Held-out scoring / unseen-feature pricing / the pure-Python DSIR
    reference pin live in tests/test_textquality.py."""
    from manifold_spark.operators.classifier import (
        classify_self,
        doc_bucket_tf,
        dsir_logratio,
    )
    from manifold_spark.operators.dedup import _persist_tracked

    docs = _t(spark, sf_dir, "documents")
    # r14 (guide §1.2): ONE persisted tokenize+gram+hash pass feeds both
    # sections — NB training counts, NB scoring tf, DSIR scoring tf and
    # DSIR n_features are all exact integer functions of this relation
    # (the carried `lang` rides id-functionally; DSIR projects it away).
    # The train_tf= wiring below folds DSIR's own two-class training onto
    # the same relation too (a CASE-lang regrouping — the pools PARTITION
    # the corpus), so NOTHING in this gate tokenizes the corpus twice.
    # Values are bit-identical:
    # per-(label,bucket) counts become Σtf, n_features becomes Σtf per doc.
    shared_tf = _persist_tracked(doc_bucket_tf(docs, carry_cols=("lang",)))
    nb = classify_self(docs, tf=shared_tf).select(
        F.lit("nb").alias("section"),
        "doc_id",
        "label_true",
        "pred",
        "score",
        "margin",
        F.lit(-1).cast("int").alias("n_features"),
        F.lit(0.0).alias("logratio"),
    )
    ds = dsir_logratio(
        docs.filter(F.col("lang") == DSIR_TARGET_LANG),
        # NULL-lang docs belong to the RAW pool (the oracle's CASE WHEN
        # lang='en' THEN target ELSE raw sends NULL to ELSE); a bare
        # `!=` would drop them from training entirely.
        docs.filter(F.coalesce(F.col("lang"), F.lit("")) != DSIR_TARGET_LANG),
        score_docs=docs,
        score_tf=shared_tf,
        # target/raw is a PARTITION of `docs` by lang (null → raw), so the
        # two-class training counts are a regrouping of the same shared
        # relation — the gate's last corpus tokenize pass gone.
        train_tf=shared_tf.select(
            "doc_id",
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit("target"))
            .otherwise(F.lit("raw"))
            .alias("_dsir_label"),
            "bucket",
            "tf",
        ),
    ).select(
        F.lit("dsir").alias("section"),
        "doc_id",
        F.lit("").alias("label_true"),
        F.lit("").alias("pred"),
        F.lit(0.0).alias("score"),
        F.lit(0.0).alias("margin"),
        "n_features",
        "logratio",
    )
    return nb.unionByName(ds)


# ---------------------------------------------------------------------------
# End-to-end curation pipeline (manifold_spark/curation.py): the gated
# stages chained in canonical order — C4 clean → exact dedup → LSH +
# components fuzzy dedup → Gopher repetition + CCNet perplexity tertiles
# → temperature mixture → token packing. Every stage is individually
# oracled elsewhere; this gate pins the stage WIRING (join keys, survivor
# columns, filter polarity) the per-stage gates cannot see, by chaining
# the SAME parameterized oracle builders over derived corpus CTEs. r9
# (VERDICT ask #4); slot freed by the profile_orders → audit_counts fold.
# ---------------------------------------------------------------------------

#: Curation-gate knobs, shared by the Spark query and the oracle. The
#: corpus is 5-token-chunked + period-terminated (the c4 gate rewrite) so
#: every stage engages with real signal at sf0.001/sf0.01.
CUR_MIN_WORDS = 5
CUR_MIN_KEPT = 3
CUR_LSH_THRESHOLD = 0.3
CUR_ALPHA = 0.7
CUR_TARGET = 0.8
CUR_BUDGET = 512
CUR_SHARDS = 64  # pack_documents default — curate_corpus doesn't override


def _curation_chain_sql(
    p: str,
    src_where: str = "",
    require_terminal_punct: bool = True,
    keep_buckets: tuple[str, ...] = ("head", "middle"),
) -> str:
    """The full curation CTE chain with prefix ``p`` — parameterized so
    the gate can run TWO knob paths (VERDICT r10 #5): the default and an
    alternate (`require_terminal_punct=False`, head-only perplexity
    keep) over a sliced corpus, pinning filter-polarity wiring under a
    second path. Returns the comma-joined CTE definitions (caller owns
    the WITH RECURSIVE keyword)."""
    from manifold_spark.operators.sampling import RATE_DENOM, TEMP_SCALE

    chunk = (
        f"regexp_replace(coalesce(text, ''), '{_LINE_CHUNK_PATTERN}', "
        "'\\1.' || chr(10), 'g')"
    )
    c4 = _c4_rules_sql(
        f"{p}src",
        min_words_per_line=CUR_MIN_WORDS,
        min_kept_lines=CUR_MIN_KEPT,
        line_drop_terms=C4_LINE_DROP_TERMS,
        blocklist=C4_BLOCKLIST,
        require_terminal_punct=require_terminal_punct,
    )
    pairs = _minhash_oracle(threshold=CUR_LSH_THRESHOLD, table=f"{p}exact")
    rep = _repetition_oracle(table=f"{p}fuzzy")
    lmq = _lm_oracle(table=f"{p}rep", min_trigrams=1)
    h = _stable_hash_sql("CAST(doc_id AS VARCHAR)")
    buckets = ", ".join(f"'{b}'" for b in keep_buckets)
    return f"""{p}src AS MATERIALIZED (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, {chunk} AS text
        FROM documents {src_where}
    ),
    {p}c4 AS MATERIALIZED (
        SELECT s.doc_id, s.lang, f.text_clean AS text
        FROM ({c4}) f JOIN {p}src s USING (doc_id)
        WHERE f.keep = 1
    ),
    {p}exact_ids AS (
        SELECT min(doc_id) AS doc_id FROM {p}c4 GROUP BY sha256(text)
    ),
    {p}exact AS MATERIALIZED (
        SELECT c.doc_id, c.lang, c.text
        FROM {p}c4 c JOIN {p}exact_ids USING (doc_id)
    ),
    {p}pairs AS MATERIALIZED (SELECT id_a, id_b FROM ({pairs}) mp),
    {p}edges AS (
        SELECT id_a AS a, id_b AS b FROM {p}pairs
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM {p}pairs
    ),
    {p}reach(id, r) AS (
        SELECT doc_id, doc_id FROM {p}exact
        UNION
        SELECT {p}reach.id, e.b FROM {p}reach JOIN {p}edges e ON {p}reach.r = e.a
    ),
    {p}clusters AS (
        SELECT id AS doc_id, min(r) AS cluster_id FROM {p}reach GROUP BY id
    ),
    {p}fuzzy AS MATERIALIZED (
        SELECT c.doc_id, c.lang, c.text
        FROM {p}exact c JOIN {p}clusters cl USING (doc_id)
        WHERE cl.cluster_id = c.doc_id
    ),
    {p}rep AS MATERIALIZED (
        SELECT f.doc_id, f.lang, f.text
        FROM {p}fuzzy f
        JOIN (SELECT doc_id, repetition_pass FROM ({rep}) rr) rp USING (doc_id)
        WHERE rp.repetition_pass
    ),
    {p}quality AS MATERIALIZED (
        SELECT r.doc_id, r.lang, r.text
        FROM {p}rep r
        JOIN (SELECT doc_id, ppl_bucket_label FROM ({lmq}) lq) q USING (doc_id)
        WHERE q.ppl_bucket_label IN ({buckets})
    ),
    {p}rates AS (
        SELECT lang,
               CAST(floor(least(1.0, ({CUR_TARGET} *
                        (CAST(e AS DOUBLE) / CAST(se AS DOUBLE))) / p)
                    * {RATE_DENOM}.0) AS BIGINT) AS rate_bps
        FROM (
            SELECT lang, p,
                   CAST(floor(pow(p, {CUR_ALPHA}) * {TEMP_SCALE}.0) AS BIGINT) AS e,
                   sum(CAST(floor(pow(p, {CUR_ALPHA}) * {TEMP_SCALE}.0) AS BIGINT))
                       OVER () AS se
            FROM (
                SELECT lang,
                       CAST(count(*) AS DOUBLE)
                       / CAST(sum(count(*)) OVER () AS DOUBLE) AS p
                FROM {p}quality GROUP BY lang
            )
        )
    ),
    {p}mixed AS MATERIALIZED (
        SELECT q.doc_id, q.lang, q.text
        FROM {p}quality q JOIN {p}rates r USING (lang)
        WHERE ({h}) % {RATE_DENOM} < r.rate_bps
    ),
    {p}packed AS MATERIALIZED (
        {_pack_sql(f"{p}mixed", CUR_BUDGET, CUR_SHARDS, payload_cols=("lang",))}
    )"""


def _curation_section_sql(p: str, section: str, input_from: str) -> str:
    """The per-chain output rows: 'doc'-shaped survivor rows + the stage
    counts, tagged with ``section`` / ``{section}_stage``."""
    return f"""
    SELECT '{section}' AS section, '' AS stage, doc_id, lang,
           CAST(shard AS BIGINT) AS shard, bin_id, n_tokens,
           CAST(-1 AS BIGINT) AS n
    FROM {p}packed
    UNION ALL SELECT '{section}_stage', 'input', -1, '', -1, -1, -1,
              (SELECT count(*) FROM {input_from})
    UNION ALL SELECT '{section}_stage', 'c4_clean', -1, '', -1, -1, -1,
              (SELECT count(*) FROM {p}c4)
    UNION ALL SELECT '{section}_stage', 'exact_dedup', -1, '', -1, -1, -1,
              (SELECT count(*) FROM {p}exact)
    UNION ALL SELECT '{section}_stage', 'fuzzy_dedup', -1, '', -1, -1, -1,
              (SELECT count(*) FROM {p}fuzzy)
    UNION ALL SELECT '{section}_stage', 'quality', -1, '', -1, -1, -1,
              (SELECT count(*) FROM {p}quality)
    UNION ALL SELECT '{section}_stage', 'mixture', -1, '', -1, -1, -1,
              (SELECT count(*) FROM {p}mixed)
    UNION ALL SELECT '{section}_stage', 'packed', -1, '', -1, -1, -1,
              (SELECT count(*) FROM {p}packed)
    """


#: The alternate knob path (VERDICT r10 #5): terminal-punctuation rule
#: OFF and head-only perplexity keep, over the doc_id % 4 = 0 corpus
#: slice (a quarter corpus keeps the doubled oracle affordable at
#: sf0.01 while still exercising every stage).
CUR_ALT_MOD = 4


def _curation_oracle() -> str:
    main = _curation_chain_sql("cur_")
    alt = _curation_chain_sql(
        "ca_",
        src_where=f"WHERE CAST(doc_id AS BIGINT) % {CUR_ALT_MOD} = 0",
        require_terminal_punct=False,
        keep_buckets=("head",),
    )
    main_rows = _curation_section_sql("cur_", "doc", "documents")
    alt_rows = _curation_section_sql(
        "ca_",
        "alt",
        f"(SELECT 1 FROM documents WHERE CAST(doc_id AS BIGINT) % {CUR_ALT_MOD} = 0)",
    )
    # DuckDB quirk: 'stage' section names differ ('stage' historically) —
    # keep the main section's legacy names for hash continuity.
    main_rows = main_rows.replace("'doc_stage'", "'stage'")
    return f"""
    WITH RECURSIVE {main},
    {alt}
    {main_rows}
    UNION ALL
    {alt_rows}
    """


@register("curation_pipeline", _curation_oracle())
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`curation.curate_corpus` end-to-end over the 5-token-chunked,
    period-terminated corpus, under TWO knob paths (VERDICT r10 #5):

    - 'doc'/'stage': the default path — terminal-punct rule on,
      head+middle perplexity keep, full corpus;
    - 'alt'/'alt_stage': `require_terminal_punct=False` +
      `keep_ppl_buckets=("head",)` over the doc_id % 4 slice — pins the
      filter-POLARITY wiring (the punct predicate actually disengages,
      the bucket filter actually narrows) that one path cannot see.

    'doc'/'alt' rows carry every packed survivor's (lang, shard, bin_id,
    n_tokens); the stage rows carry per-stage audit counts — so the
    driver hash pins both surviving id sets AND where every drop
    happened on each path."""
    from manifold_spark.curation import curate_corpus

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), _LINE_CHUNK_PATTERN, "$1.\n"
        ),
    )
    shared = dict(
        min_words_per_line=CUR_MIN_WORDS,
        min_kept_lines=CUR_MIN_KEPT,
        line_drop_terms=C4_LINE_DROP_TERMS,
        blocklist=C4_BLOCKLIST,
        lsh_threshold=CUR_LSH_THRESHOLD,
        temperature=CUR_ALPHA,
        mixture_target_fraction=CUR_TARGET,
        pack_budget=CUR_BUDGET,
    )

    def _rows(packed, report, doc_section, stage_section):
        doc_rows = packed.select(
            F.lit(doc_section).alias("section"),
            F.lit("").alias("stage"),
            F.col("doc_id").cast("long").alias("doc_id"),
            "lang",
            F.col("shard").cast("long").alias("shard"),
            F.col("bin_id").cast("long").alias("bin_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.lit(-1).cast("long").alias("n"),
        )
        stage_rows = spark.createDataFrame(
            [(k, int(v)) for k, v in report.items()], "stage string, n long"
        ).select(
            F.lit(stage_section).alias("section"),
            "stage",
            F.lit(-1).cast("long").alias("doc_id"),
            F.lit("").alias("lang"),
            F.lit(-1).cast("long").alias("shard"),
            F.lit(-1).cast("long").alias("bin_id"),
            F.lit(-1).cast("long").alias("n_tokens"),
            "n",
        )
        return doc_rows.unionByName(stage_rows)

    # r14 round-close (guide §2.6): the two knob paths are independent
    # full pipelines whose stage counts are driver-blocking actions —
    # run them from a 2-thread pool so one path's barriers back-fill
    # with the other's tasks. Each path is deterministic and
    # self-contained (per-thread frames; the shared cache registry's
    # list ops are GIL-atomic), so results are unchanged.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_doc = pool.submit(
            lambda: curate_corpus(docs, require_terminal_punct=True, **shared)
        )
        f_alt = pool.submit(
            lambda: curate_corpus(
                docs.filter(F.col("doc_id").cast("long") % CUR_ALT_MOD == 0),
                require_terminal_punct=False,
                keep_ppl_buckets=("head",),
                **shared,
            )
        )
        packed, report = f_doc.result()
        alt_packed, alt_report = f_alt.result()
    return _rows(packed, report, "doc", "stage").unionByName(
        _rows(alt_packed, alt_report, "alt", "alt_stage")
    )


# ---------------------------------------------------------------------------
# curation_store_pipeline: the INCREMENTAL curation path — 4 triggers
# through `curation_sink` + the bucketed, snapshot-compacted
# `CurationState` store — inside the hard correctness gate (VERDICT r11
# #1). The oracle recomputes the incremental semantics over the batch
# union in pure SQL: under id-ordered batches the cross-batch first-seen
# layering reduces to global min-id exact dedup, and the probe/upsert
# fuzzy victims reduce to "every id_b of the one-shot pair set" (the
# split-invariance the pytest pins claim, adjudicated externally here).
# The seed models are SQL-exact by construction: the char-trigram LM is
# the `_lm_oracle` chain, mixture rates are the chain's integer-quantized
# temperature CTE over the full corpus, and the per-lang perplexity
# cutpoints use an exact RANK recipe (score of the ceil(n/3)-th /
# ceil(2n/3)-th best doc) instead of `curation_models`' t-digest
# approx_percentile, which no external engine can reproduce bit-exactly —
# the store adjudication is unchanged, the production approx-cut path
# stays pinned in pytest.
# ---------------------------------------------------------------------------

#: Gate trigger count — ntile(4) over doc_id gives the id-ordered split
#: the incremental ≡ one-shot identity requires.
CSP_BATCHES = 4
#: Non-binding LSH bucket cap: an ENGAGING cap is probe-order-dependent
#: (the documented cap caveat) and has no SQL mirror.
CSP_MAX_BUCKET = 10**9


def _curation_store_oracle() -> str:
    from manifold_spark.operators import lm
    from manifold_spark.operators.sampling import RATE_DENOM, TEMP_SCALE

    k, scale = lm.SMOOTH_K, lm.TERM_SCALE
    chunk = (
        f"regexp_replace(coalesce(text, ''), '{_LINE_CHUNK_PATTERN}', "
        "'\\1.' || chr(10), 'g')"
    )
    c4 = _c4_rules_sql(
        "csp_src",
        min_words_per_line=CUR_MIN_WORDS,
        min_kept_lines=CUR_MIN_KEPT,
        line_drop_terms=C4_LINE_DROP_TERMS,
        blocklist=C4_BLOCKLIST,
        require_terminal_punct=True,
    )
    pairs = _minhash_oracle(
        threshold=CUR_LSH_THRESHOLD, max_bucket=CSP_MAX_BUCKET,
        table="csp_exact",
    )
    rep = _repetition_oracle(table="csp_fuzzy")
    h = _stable_hash_sql("CAST(doc_id AS VARCHAR)")
    avg = f"CAST(s.sum_q AS DOUBLE) / CAST(s.n_tri * {scale} AS DOUBLE)"
    return f"""
    WITH csp_src AS MATERIALIZED (
        SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, {chunk} AS text,
               ntile({CSP_BATCHES}) OVER (ORDER BY CAST(doc_id AS BIGINT))
                   AS batch_no
        FROM documents
    ),
    csp_c4 AS MATERIALIZED (
        SELECT s.doc_id, s.lang, s.batch_no, f.text_clean AS text
        FROM ({c4}) f JOIN csp_src s USING (doc_id)
        WHERE f.keep = 1
    ),
    csp_exact_ids AS (
        SELECT min(doc_id) AS doc_id FROM csp_c4 GROUP BY sha256(text)
    ),
    csp_exact AS MATERIALIZED (
        SELECT c.doc_id, c.lang, c.batch_no, c.text
        FROM csp_c4 c JOIN csp_exact_ids USING (doc_id)
    ),
    csp_pairs AS MATERIALIZED (SELECT id_a, id_b FROM ({pairs}) mp),
    csp_fuzzy AS MATERIALIZED (
        SELECT e.doc_id, e.lang, e.batch_no, e.text FROM csp_exact e
        WHERE e.doc_id NOT IN (SELECT id_b FROM csp_pairs)
    ),
    csp_rep AS MATERIALIZED (
        SELECT f.doc_id, f.lang, f.batch_no, f.text
        FROM csp_fuzzy f
        JOIN (SELECT doc_id, repetition_pass FROM ({rep}) rr) rp USING (doc_id)
        WHERE rp.repetition_pass
    ),
    csp_nd AS (
        SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        FROM csp_src
    ),
    csp_tri AS (
        SELECT doc_id, substr(norm, CAST(i AS INT), 3) AS tri
        FROM csp_nd, UNNEST(range(1, length(norm) - 1)) AS t(i)
    ),
    csp_c3 AS (SELECT tri, count(*) AS c3 FROM csp_tri GROUP BY tri),
    csp_c2 AS (
        SELECT substr(tri, 1, 2) AS prefix, sum(c3) AS c2 FROM csp_c3 GROUP BY 1
    ),
    csp_v AS (
        SELECT count(DISTINCT substr(norm, CAST(i AS INT), 1)) AS v
        FROM csp_nd, UNNEST(range(1, length(norm) + 1)) AS t(i)
    ),
    csp_model AS (
        SELECT c3.tri,
               CAST(floor(ln(CAST(c3.c3 + {k} AS DOUBLE)
                             / CAST(c2.c2 + {k} * v.v AS DOUBLE))
                          * {scale}.0) AS BIGINT) AS term_q
        FROM csp_c3 c3 JOIN csp_c2 c2 ON substr(c3.tri, 1, 2) = c2.prefix
        CROSS JOIN csp_v v
    ),
    csp_seed_scored AS (
        SELECT s.doc_id, d.lang, {avg} AS score
        FROM (
            SELECT t.doc_id, sum(m.term_q) AS sum_q, count(*) AS n_tri
            FROM csp_tri t JOIN csp_model m USING (tri) GROUP BY t.doc_id
        ) s JOIN csp_src d USING (doc_id)
        WHERE s.n_tri > 0
    ),
    csp_cuts AS (
        SELECT lang,
               max(CASE WHEN rk = CAST(ceil(n / 3.0) AS BIGINT)
                        THEN score END) AS c1,
               max(CASE WHEN rk = CAST(ceil((2 * n) / 3.0) AS BIGINT)
                        THEN score END) AS c2
        FROM (
            SELECT lang, score, doc_id,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY score DESC, doc_id) AS rk,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM csp_seed_scored
        ) GROUP BY lang
    ),
    csp_rates AS (
        SELECT lang,
               CAST(floor(least(1.0, ({CUR_TARGET} *
                        (CAST(e AS DOUBLE) / CAST(se AS DOUBLE))) / p)
                    * {RATE_DENOM}.0) AS BIGINT) AS rate_bps
        FROM (
            SELECT lang, p,
                   CAST(floor(pow(p, {CUR_ALPHA}) * {TEMP_SCALE}.0) AS BIGINT) AS e,
                   sum(CAST(floor(pow(p, {CUR_ALPHA}) * {TEMP_SCALE}.0) AS BIGINT))
                       OVER () AS se
            FROM (
                SELECT lang,
                       CAST(count(*) AS DOUBLE)
                       / CAST(sum(count(*)) OVER () AS DOUBLE) AS p
                FROM csp_src GROUP BY lang
            )
        )
    ),
    csp_ftri AS (
        SELECT doc_id, substr(norm, CAST(i AS INT), 3) AS tri
        FROM (
            SELECT doc_id,
                   trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
            FROM csp_rep
        ), UNNEST(range(1, length(norm) - 1)) AS t(i)
    ),
    csp_fs AS (
        SELECT t.doc_id, count(*) AS n_tri,
               sum(coalesce(m.term_q,
                   CAST(floor(ln(CAST({k} AS DOUBLE)
                                 / CAST(coalesce(p2.c2, 0) + {k} * v.v AS DOUBLE))
                              * {scale}.0) AS BIGINT))) AS sum_q
        FROM csp_ftri t
        LEFT JOIN csp_model m USING (tri)
        LEFT JOIN csp_c2 p2 ON substr(t.tri, 1, 2) = p2.prefix
        CROSS JOIN csp_v v
        GROUP BY t.doc_id
    ),
    csp_quality AS MATERIALIZED (
        SELECT r.doc_id, r.lang, r.batch_no, r.text
        FROM csp_rep r
        JOIN csp_fs s ON s.doc_id = r.doc_id AND s.n_tri > 0
        LEFT JOIN csp_cuts c ON c.lang = r.lang
        WHERE c.c1 IS NULL
           OR (CASE WHEN c.c1 > {avg} THEN 1 ELSE 0 END
             + CASE WHEN c.c2 > {avg} THEN 1 ELSE 0 END) <= 1
    ),
    csp_mixed AS MATERIALIZED (
        SELECT q.doc_id, q.lang, q.batch_no, q.text
        FROM csp_quality q LEFT JOIN csp_rates r ON r.lang = q.lang
        WHERE ({h}) % {RATE_DENOM} < coalesce(r.rate_bps, {RATE_DENOM})
    ),
    csp_packed AS (
        {_pack_sql(
            "csp_mixed", CUR_BUDGET, CUR_SHARDS,
            payload_cols=("lang", "batch_no"),
            partition_cols=("batch_no", "shard"),
        )}
    )
    SELECT doc_id, lang, CAST(shard AS BIGINT) AS shard, bin_id, n_tokens,
           CAST(batch_no - 1 AS BIGINT) AS batch_id
    FROM csp_packed
    """


@register("curation_store_pipeline", _curation_store_oracle())
def q_curation_store_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four id-ordered triggers through `curation_sink` + `CurationState`
    (hash/LSH/doc-shingle state as bucketed parquet versions,
    compact_every=2 so TWO snapshot compactions land inside the run),
    returning every kept document's (lang, shard, bin_id, n_tokens)
    AND the trigger that kept it — so the DuckDB oracle adjudicates the
    cross-trigger state layering (first-seen exact dedup, probe-based
    fuzzy victims), the seed-model gating, and the per-trigger packing,
    externally and hash-exact. State lives in a temp dir; the kept rows
    are localCheckpointed so it can be removed before collection."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from manifold_spark.curation import curation_sink
    from manifold_spark.operators.dedup import (
        _persist_tracked,
        operator_cache_scope,
    )
    from manifold_spark.operators.lm import score_docs, train_char_lm
    from manifold_spark.operators.sampling import temperature_rates

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), _LINE_CHUNK_PATTERN, "$1.\n"
        ).alias("text"),
    )
    tmp = tempfile.mkdtemp(prefix="cur-store-gate-")
    try:
        with operator_cache_scope():
            # ntile over doc_id = the id-ordered trigger split (global
            # window: gate-scale only; production triggers arrive
            # pre-split from the stream source).
            docs_b = _persist_tracked(
                docs.withColumn(
                    "batch_no", F.ntile(CSP_BATCHES).over(Window.orderBy("doc_id"))
                )
            )
            lm_model = _persist_tracked(train_char_lm(docs_b))
            scored = (
                score_docs(docs_b, model=lm_model)
                .filter(F.col("n_trigrams") > 0)
                .join(docs_b.select("doc_id", "lang"), "doc_id")
            )
            # exact RANK cutpoints (see module comment): the score of the
            # ceil(n/3)-th / ceil(2n/3)-th best doc per lang, always a
            # 2-element array (elements may coincide for tiny langs).
            wr = Window.partitionBy("lang").orderBy(
                F.col("avg_logprob").desc(), "doc_id"
            )
            ranked = scored.withColumn("rk", F.row_number().over(wr)).withColumn(
                "n", F.count(F.lit(1)).over(Window.partitionBy("lang"))
            )
            r1 = F.ceil(F.col("n") / F.lit(3.0)).cast("long")
            r2 = F.ceil((F.lit(2) * F.col("n")) / F.lit(3.0)).cast("long")
            cuts = _persist_tracked(
                ranked.groupBy("lang").agg(
                    F.array(
                        F.max(F.when(F.col("rk") == r1, F.col("avg_logprob"))),
                        F.max(F.when(F.col("rk") == r2, F.col("avg_logprob"))),
                    ).alias("cuts")
                )
            )
            rates = _persist_tracked(
                temperature_rates(
                    docs_b, "lang", alpha=CUR_ALPHA, target_fraction=CUR_TARGET
                ).withColumnRenamed("source", "lang")
            )
            models = {"lm_model": lm_model, "cuts": cuts, "rates": rates}
            sink = curation_sink(
                models, f"{tmp}/state", f"{tmp}/out",
                hash_prefix_len=1, key_prefix_len=1, doc_buckets=16,
                compact_every=2,
                min_words_per_line=CUR_MIN_WORDS,
                min_kept_lines=CUR_MIN_KEPT,
                require_terminal_punct=True,
                line_drop_terms=C4_LINE_DROP_TERMS,
                blocklist=C4_BLOCKLIST,
                lsh_threshold=CUR_LSH_THRESHOLD,
                lsh_max_bucket=CSP_MAX_BUCKET,
                max_ppl_bucket=2,
                pack_budget=CUR_BUDGET,
                audit=False,
            )
            for i in range(CSP_BATCHES):
                sink(
                    docs_b.filter(F.col("batch_no") == i + 1).drop("batch_no"),
                    i,
                )
            res = (
                spark.read.parquet(f"{tmp}/out")
                .select(
                    F.col("doc_id").cast("long").alias("doc_id"),
                    "lang",
                    F.col("shard").cast("long").alias("shard"),
                    F.col("bin_id").cast("long").alias("bin_id"),
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("batch_id").cast("long").alias("batch_id"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return res
