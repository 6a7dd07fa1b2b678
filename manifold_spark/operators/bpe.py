"""Distributed BPE tokenizer training (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units") — the
vocabulary-learning stage of a training-data pipeline, expressed as
DataFrame aggregations so the corpus-scale parts distribute and only the
inherently sequential part (picking one merge per round) touches the
driver.

Algorithm, mapped to relations:

1. **Word table** (the ONE corpus-scale pass): tokenize every document
   with the shared normalizer, count word occurrences — a map-side-
   combined groupBy bounded by the distinct vocabulary, not the corpus.
   At 100 TB this is the only stage that reads the data; every training
   round below runs on the (word, freq, syms) relation.
2. **Symbol encoding**: each word starts as its characters plus the
   classic `</w>` end-of-word marker. Symbols live in ONE string column
   with every symbol wrapped in pipes (`|h||e||r||</w>|`): merge
   application is then a plain (non-regex) `replace('|a||b|' → '|ab|')`
   whose greedy leftmost non-overlapping scan IS the BPE merge rule —
   identical on every engine, RE2-safe (no lookahead), no per-element
   fold. The wrapper pipes make boundaries unambiguous even after
   symbols grow multi-character ('|ab||b|' cannot false-match '|b||b|').
3. **Per round**: count adjacent symbol pairs weighted by word freq
   (vocab-bounded explode + aggregate), pick the most frequent pair
   (ties: lexicographic (a, b) asc — deterministic and engine-portable),
   rewrite the symbol strings, record the merge. The argmax is a one-row
   driver collect per round (the same bounded-scalar pattern as the
   kmeans centroid roundtrip, `similarity.kmeans_centroids`); everything
   else stays distributed. The word relation goes behind a
   `stage_boundary` each round so plan depth stays constant across
   merges; the previous round's is released once the next exists.

The DuckDB oracle for the registry gate unrolls the same rounds as CTEs
(pair counts → one-row best CTE → LEFT-JOIN-ON-TRUE rewrite, so an
exhausted-pairs round is a no-op on both engines).

Encoding a corpus with the trained merges inverts the cost argument:
apply the merge list to the DISTINCT word table once (vocab-bounded),
then broadcast-join documents' tokens against the word→subwords map —
documents never pay the per-merge rewrite
(`bpe_encode`).

Pipe characters inside words cannot occur: the shared tokenizer strips
non-alphanumerics. The reference engine has no tokenizer surface; public
sources: Sennrich et al. 2016, the GPT-2/BPE literature.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from manifold_spark.operators.dedup import normalized_tokens
from manifold_spark.plans.boundary import _release, stage_boundary
from manifold_spark.plans.parallelism import ensure_parallelism

#: End-of-word marker (Sennrich et al.): lets the model distinguish
#: word-final subwords ("er</w>" vs "er").
EOW = "</w>"

#: Initial pipe-wrapped symbol string of a `word` column: characters
#: followed by the EOW marker, e.g. "her" → "|h||e||r||</w>|".
_SYMS_EXPR = (
    "'|' || array_join(transform(sequence(1, length(word)),"
    " i -> substring(word, i, 1)), '||') || '||" + EOW + "|'"
)

#: Adjacent-pair structs from a pipe-wrapped `syms` string column. The
#: CASE guard matters: a fully-merged word has ONE symbol, and
#: `sequence(1, 0)` counts DOWN (the round-2 pitfall) — without the
#: guard, element_at(s, 2) then throws under ANSI mode.
_PAIRS_EXPR = """
CASE WHEN size(split(substring(syms, 2, length(syms) - 2), '\\\\|\\\\|')) >= 2
     THEN transform(
        sequence(1, size(split(substring(syms, 2, length(syms) - 2), '\\\\|\\\\|')) - 1),
        i -> named_struct(
            'a', element_at(split(substring(syms, 2, length(syms) - 2), '\\\\|\\\\|'), i),
            'b', element_at(split(substring(syms, 2, length(syms) - 2), '\\\\|\\\\|'), i + 1)))
     ELSE array()
END
"""


def word_table(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, syms) over the shared normalized tokenizer — the one
    corpus-scale aggregation; ``syms`` is the pipe-wrapped symbol
    string."""
    return (
        ensure_parallelism(docs)
        .select(F.explode(normalized_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.expr(_SYMS_EXPR))
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent symbol pairs weighted by word frequency.
    Key space is bounded by the (current) symbol vocabulary squared in
    the worst case — in practice by observed adjacencies — so the
    aggregate is map-side combined and the result is driver-collectable
    at its top-1 regardless of corpus size."""
    return (
        words.select("freq", F.explode(F.expr(_PAIRS_EXPR)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def apply_merge(words: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite every word's symbol string under merge (a, b) — one plain
    `replace`, greedy leftmost non-overlapping on every engine."""
    return words.withColumn(
        "syms",
        F.expr(
            "replace(syms, '|' || {a} || '||' || {b} || '|',"
            " '|' || {a} || {b} || '|')".format(
                a=f"'{a}'", b=f"'{b}'"
            )
        ),
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_freq: int = 2,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn up to ``n_merges`` BPE merges (stopping early when no pair
    reaches ``min_pair_freq``). Returns (merges, words): merges =
    [(a, b, pair_freq), ...] in learned order; words = the final
    (word, freq, syms) relation with all merges applied, behind a
    registered boundary (valid until the enclosing
    `operator_cache_scope()` exits)."""
    # A boundary inside the loop keeps plan depth constant per
    # round (each rewrite would otherwise nest the previous round's
    # whole DAG), at the cost of materializing the vocab-bounded
    # relation; the loop itself lives in `train_bpe_from_words`.
    return train_bpe_from_words(
        word_table(docs, text_col), n_merges, min_pair_freq=min_pair_freq
    )


def encode_words(words: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """Apply an already-learned merge list to a (word, freq, syms)
    relation — e.g. a NEW corpus's word table under a trained tokenizer.
    Chained column rewrites (no per-round materialization needed: the
    merge list is fixed, so this is one projection of depth
    len(merges))."""
    for a, b, _ in merges:
        words = apply_merge(words, a, b)
    return words


def bpe_encode(
    docs: DataFrame,
    trained_words: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents under a trained BPE vocabulary: explode the
    shared normalizer's words, broadcast-join the word→syms map (vocab-
    bounded — the documents never pay a per-merge rewrite), concatenate
    subwords back in word order. Out-of-vocabulary words fall back to
    their character+EOW symbols. Returns (id_col, tokens array<string>,
    n_tokens int)."""
    wmap = broadcast(trained_words.select("word", F.col("syms").alias("w_syms")))
    exploded = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col),
            F.posexplode(normalized_tokens(F.col(text_col))).alias("pos", "word"),
        )
        .join(wmap, "word", "left")
        .withColumn(
            "w_syms",
            F.coalesce(F.col("w_syms"), F.expr(_SYMS_EXPR)),
        )
    )
    toks = F.expr(
        "split(substring(w_syms, 2, length(w_syms) - 2), '\\\\|\\\\|')"
    )
    per_doc = exploded.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), toks.alias("t")))
                ),
                lambda s: s["t"],
            )
        ).alias("tokens")
    )
    # Left-join back to the doc list: a document whose normalized token
    # array is empty emits no posexplode rows, so the groupBy would omit
    # it entirely — (id, [], 0) is the consistent answer (the lm.score_docs
    # convention for degenerate docs).
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                F.col("tokens"), F.array().cast("array<string>")
            ).alias("tokens"),
        )
        .withColumn("n_tokens", F.size("tokens").cast("int"))
    )


def word_table_upsert(
    batch: DataFrame,
    words: DataFrame | None,
    text_col: str = "text",
) -> DataFrame:
    """Grow a persisted word table by one corpus batch — the continuous-
    ingestion tokenizer-refresh path: the corpus-scale tokenize+count
    runs over the BATCH only, then merges with the stored table by
    frequency re-aggregation (same bounded-state pattern as
    `dedup.bloom_index_upsert`). `syms` is recomputed from the word (raw
    characters — retraining picks its own merges), so the result is
    EXACTLY `word_table(all batches unioned)`: retraining merges from
    the upserted table is bit-identical to full-corpus training, pinned
    in tests. State stays vocabulary-bounded forever."""
    fresh = (
        ensure_parallelism(batch)
        .select(F.explode(normalized_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    if words is None:
        merged = fresh
    else:
        merged = (
            words.select("word", "freq")
            .unionByName(fresh)
            .groupBy("word")
            .agg(F.sum("freq").alias("freq"))
        )
    return merged.withColumn("syms", F.expr(_SYMS_EXPR))


def save_bpe_state(path: str, merges: list[tuple[str, str, int]],
                   words: DataFrame) -> None:
    """Persist the tokenizer state beside itself (VERDICT r10 #4): the
    learned merge table as ``{path}/merges`` rows (round, a, b,
    pair_freq) — round preserves the learned ORDER, which is the
    tokenizer's identity — and the upserted word table as
    ``{path}/words`` (word, freq). `syms` is NOT stored: it is a pure
    function of the word (`_SYMS_EXPR`), and retraining re-derives its
    own merge rewrites anyway. Overwrite semantics: the state is a
    snapshot (vocabulary-bounded, tiny next to any corpus), not a log."""
    spark = words.sparkSession
    rows = [(i, a, b, int(cnt)) for i, (a, b, cnt) in enumerate(merges)]
    spark.createDataFrame(
        rows, "round int, a string, b string, pair_freq long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/merges")
    words.select("word", "freq").write.mode("overwrite").parquet(
        f"{path}/words"
    )


def load_bpe_state(spark, path: str) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Reload (merges, words) written by `save_bpe_state`. The merge
    list comes back in learned order (ORDER BY round — parquet row order
    is not a contract); the word table gets `syms` re-derived so it
    feeds `word_table_upsert` / `train_bpe_from_words` directly.
    Refresh-from-disk ≡ from-scratch is pinned in
    tests/test_textquality.py::test_bpe_state_roundtrip_refresh."""
    merges = [
        (r["a"], r["b"], int(r["pair_freq"]))
        for r in spark.read.parquet(f"{path}/merges")
        .orderBy("round")
        .collect()
    ]
    words = spark.read.parquet(f"{path}/words").withColumn(
        "syms", F.expr(_SYMS_EXPR)
    )
    return merges, words


def train_bpe_from_words(
    words: DataFrame,
    n_merges: int,
    min_pair_freq: int = 2,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """`train_bpe`'s merge loop over an ALREADY-BUILT word table (e.g.
    `word_table_upsert` state) — retraining after corpus growth never
    re-reads old batches."""
    words = stage_boundary(words, eager=True)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            pair_counts(words)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_pair_freq:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((a, b, cnt))
        merged = stage_boundary(apply_merge(words, a, b), eager=True)
        _release(words)
        words = merged
    return merges, words
