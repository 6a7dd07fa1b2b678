"""End-to-end curation pipeline (manifold_spark/curation.py): the gated
operators composed clean → exact dedup → fuzzy dedup → quality → mixture
→ packing, with per-stage accounting."""


from __future__ import annotations

# Slow tier: the full curation pipeline compositions are marked `slow`,
# excluded from the default run by pytest.ini's `-m "not slow"`; run
# them with `-m slow`. The boundary pin stays in the default run.

import gc

import pytest
from pyspark.sql import functions as F

from manifold_spark.curation import curate_corpus
from manifold_spark.operators.dedup import release_shingle_caches


@pytest.fixture(autouse=True)
def _reclaim_jvm_memory(spark):
    """These end-to-end tests each build corpus-wide broadcast models and
    persisted stage frames; the py4j references Python still holds after
    a test keep the JVM-side plans/broadcasts alive, and back-to-back
    runs exhaust the shared 4g test JVM (observed: heap OOM in the third
    test of this file, and collateral executor-memory starvation in
    later files during full-suite runs). Drop the Python refs and ask
    both collectors to run between tests."""
    yield
    release_shingle_caches()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


@pytest.mark.slow
def test_curate_corpus_end_to_end(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # give the exact-dedup stage real work: duplicate every 10th doc
    dups = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100_000
    )
    corpus = docs.unionByName(dups)

    packed, report = curate_corpus(corpus, pack_budget=256)
    rows = packed.collect()
    release_shingle_caches()

    # accounting: monotone non-increasing through the drop stages
    stages = ["input", "c4_clean", "exact_dedup", "fuzzy_dedup",
              "quality", "mixture", "packed"]
    assert list(report) == stages
    counts = [report[s] for s in stages]
    assert all(a >= b for a, b in zip(counts, counts[1:])), report
    assert report["packed"] == len(rows) > 0
    # the injected exact duplicates were all dropped
    assert report["exact_dedup"] <= report["c4_clean"] - dups.count() + 1
    # quality tertile cut really engages (head+middle of 3 buckets)
    assert report["quality"] < report["fuzzy_dedup"]

    # packing invariants: per (shard, bin) totals respect the budget up
    # to one straddling document; ids unique; every doc ≤ budget counted
    assert len({r["doc_id"] for r in rows}) == len(rows)
    from collections import defaultdict

    bins = defaultdict(list)
    for r in rows:
        bins[(r["shard"], r["bin_id"])].append(r["n_tokens"])
    for (shard, b), toks in bins.items():
        assert sum(toks) - max(toks) < 256, (shard, b, toks)


def test_quality_stage_reads_bounded_survivors(spark, sf_dir, monkeypatch):
    """The frame curate_corpus hands `score_docs` is the repetition-
    filtered survivors behind a stage boundary, so LM training, scoring
    and the join back read one truncated input instead of each re-running
    the repetition explode (`__lines_tagged` is the per-line unit array
    `repetition_signals` builds)."""
    from manifold_spark.operators import lm

    real_score_docs = lm.score_docs
    plans = []

    def recording_score_docs(docs, *args, **kwargs):
        plans.append(docs._jdf.queryExecution().analyzed().toString())
        return real_score_docs(docs, *args, **kwargs)

    monkeypatch.setattr(lm, "score_docs", recording_score_docs)
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        packed, report = curate_corpus(docs, pack_budget=256)
        n_packed = packed.count()
    finally:
        release_shingle_caches()

    assert len(plans) == 1
    assert "__lines_tagged" not in plans[0]
    assert report["quality"] < report["fuzzy_dedup"]
    assert report["packed"] == n_packed > 0


@pytest.mark.slow
def test_curate_corpus_deterministic(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a, ra = curate_corpus(docs, pack_budget=256)
    rows_a = sorted(map(tuple, a.collect()))
    release_shingle_caches()
    b, rb = curate_corpus(docs.repartition(7), pack_budget=256)
    rows_b = sorted(map(tuple, b.collect()))
    release_shingle_caches()
    assert ra == rb
    assert rows_a == rows_b


@pytest.mark.slow
def test_incremental_curation_batch_split_invariant(spark, sf_dir, tmp_path):
    """The incremental twin's contract: feeding the corpus as ONE batch
    or as any id-ordered split yields the SAME kept id set and the same
    summed per-stage counts — the dedup state (first-seen hashes +
    MinHash index) makes later batches see exactly what a one-shot run
    sees. Every stage engages (chunked corpus, tight LSH threshold).
    State chains through a `CurationState` store, the `curation_sink`
    shape: begin_batch, curate, write_delta. ``audit=False`` (the
    production-sink fast path) keeps the same rows with an empty
    report."""
    from manifold_spark.curation import (
        CurationState,
        curate_batch_incremental,
        curation_models,
    )
    from manifold_spark.operators.dedup import operator_cache_scope

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn(
            "text",
            F.regexp_replace(
                F.coalesce(F.col("text"), F.lit("")),
                r"((?:\S+ ){4}\S+) ", "$1.\n",
            ),
        )
    )
    knobs = dict(
        min_words_per_line=5, min_kept_lines=3, require_terminal_punct=True,
        lsh_threshold=0.3, pack_budget=256,
    )
    models = curation_models(docs)

    with operator_cache_scope():
        one_packed, _, one_report = curate_batch_incremental(
            docs, models, None, **knobs
        )
        one_ids = {r["doc_id"] for r in one_packed.collect()}
    with operator_cache_scope():
        quiet_packed, _, quiet_report = curate_batch_incremental(
            docs, models, None, audit=False, **knobs
        )
        assert quiet_report == {}
        assert {r["doc_id"] for r in quiet_packed.collect()} == one_ids

    # three id-ordered batches (monotone ids across batches — the contract)
    bounds = [(0, 170), (170, 340), (340, 1 << 60)]
    store = CurationState(spark, str(tmp_path / "cur-state"))
    split_ids: set = set()
    summed: dict[str, int] = {}
    for i, (lo, hi) in enumerate(bounds):
        b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        store.begin_batch(i)
        with operator_cache_scope():
            packed, deltas, report = curate_batch_incremental(
                b, models, store, **knobs
            )
            split_ids |= {r["doc_id"] for r in packed.collect()}
            store.write_delta(i, deltas)
        for k, v in report.items():
            summed[k] = summed.get(k, 0) + v
    release_shingle_caches()

    assert split_ids == one_ids
    assert summed == one_report
    # real signal at every stage
    assert one_report["input"] > one_report["c4_clean"]
    assert one_report["quality"] < one_report["fuzzy_dedup"]
    assert one_report["mixture"] < one_report["quality"]
    assert one_report["packed"] > 0
