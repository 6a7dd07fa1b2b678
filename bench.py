#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full execution, no
driver materialization). A warmup pass on the smallest table absorbs JVM
/ codegen startup so per-query numbers measure the plan, not the JIT.

$SPARK_GRAFT_BENCH_MODE picks what runs:

- unset: every tier. The full result goes to BENCH_LOCAL.json; stdout
  gets the headline tier only.
- ``exclusive``: the headline tier alone, written to BENCH_LOCAL.json's
  ``exclusive`` section (an idle-host baseline the full run preserves).
- ``scaling``: one cold run of each SCALING_QUERIES row over key-shifted
  replicas of the sf tables (facts ×50, documents and embeddings ×100,
  32 files a table), generated once under $SPARK_GRAFT_SCALE_DATA. Run
  it at two core counts (e.g. SPARK_GRAFT_CPUS=8 and 32) to see
  parallelism; prints one JSON line.

Every timed row goes through `timed`, which takes the run count and where
the operator cache scope sits: around all runs (the headline, whose later
runs reuse run 1's caches), around each run (every run cold), or nowhere
(search-only rows over an index persisted outside the timing).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import nullcontext
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from manifold_spark.operators.dedup import operator_cache_scope  # noqa: E402
from manifold_spark.session import get_spark  # noqa: E402

#: The headline subset: one per operator family (star join, SCD2 merge,
#: date dim, exact + fuzzy dedup, ANN, text stats, streaming-batch twins).
#: text_stats is one pass over every text signal; events_type_stats also
#: carries the hourly rollup.
HEADLINE = [
    "pricing_summary",
    "star_join_fact",
    "scd2_merge_full",
    "date_dimension",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "sim_ann_ivf",
    "text_stats",
    "events_type_stats",
    "events_sessionize",
    "events_json_extract",
    "events_asof_join",
    "topn_per_group",
]

#: Registry keys timed outside the headline total, so "value" stays
#: comparable with the original headline definition. Several keys fold
#: more than one surface: text_bm25 (vocab top-k), events_funnel
#: (retention), sales_cube (grouping sets), multimodal_meta (decode),
#: sim_ann_ivf_kmeans (full and 10%-sample Lloyd training),
#: sampling_surface (mixture sampling and context packing), audit_counts
#: (order profiling).
EXTENDED = [
    "dedup_clusters",
    "dedup_simhash",
    "emb_quantize_int8",
    "text_bm25",
    "text_contamination",
    "events_funnel",
    "events_rolling_1h",
    "sales_cube",
    "text_span_dedup",
    "shipping_priority",
    "multimodal_meta",
    "sim_ann_ivf_kmeans",
    "sim_cosine_near_dup",
    "sampling_surface",
    "scalar_key_surface",
    "audit_counts",
    "sim_rp_lsh_near_dup",
    "dedup_skew_guard",
    "dedup_clusters_deep",
    "stream_dedup_batches",
    "text_repetition",
    "text_lm_score",
    "text_line_dedup",
    "text_classifier_nb",
    "sim_semdedup",
    "text_c4_filters",
    "dedup_bloom",
    "text_bpe",
]

#: Scaling-mode rows: one family representative each (the data it reads).
SCALING_QUERIES = [
    "pricing_summary",      # scan + partial agg (lineitem ×50)
    "star_join_fact",       # broadcast star join (fact ×50, dims base)
    "scd2_merge_full",      # SCD2 merge (customer ×50)
    "dedup_exact",          # hash agg over fused docs (×100)
    "dedup_minhash_lsh",    # LSH candidate formation + verify (×100)
    "text_stats",           # tokenize-heavy projection (×100)
    "events_type_stats",    # sort-agg percentiles (events ×50)
    "events_sessionize",    # session windows (events ×50, users shifted)
    "sim_topk_bruteforce",  # dot-product scan (embeddings ×100)
]
FACT_FACTOR = 50
DOC_FACTOR = 100
#: Runs per headline row (min, spread and first run come from them).
HEADLINE_RUNS = 3

#: Keys of the stdout line (the full result's headline subset).
STDOUT_KEYS = (
    "metric", "value", "unit", "queries", "queries_min_of_3", "queries_spread",
    "queries_first_run", "queries_cal", "value_cal", "calibration_1e8_agg_sec", "sf",
)
DETAIL_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
#: Memory limits that can bind this process: cgroup v2, then v1. Read,
#: never written; "max" (v2) or a missing file means no limit.
CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def usable_memory_bytes(limit_files=CGROUP_MEMORY_LIMITS) -> int:
    """The memory this process can use: the smaller of physical RAM and
    every numeric cgroup limit in ``limit_files``."""
    limits = [os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")]
    for path in limit_files:
        try:
            with open(path) as f:
                text = f.read().strip()
        except OSError:
            continue
        if text.isdigit():
            limits.append(int(text))
    return min(limits)


def driver_heap(cap_gb: int, usable: int | None = None) -> str:
    """``spark.driver.memory`` for this host: half the usable memory in
    whole GB (at least 1), capped at ``cap_gb``. In local mode the one
    JVM also holds off-heap buffers and the Python workers run beside
    it, so a heap near the host's memory gets the process OOM-killed (a
    fixed 16g heap did, on a 15 GB host)."""
    usable = usable_memory_bytes() if usable is None else usable
    return f"{max(1, min(cap_gb, usable // 2 // 2**30))}g"


def timed(run, runs=2, scope="each"):
    """Wall seconds of ``runs`` calls ``run(i)``, and the last call's
    result. A DataFrame result is executed with a noop sink inside the
    timing. ``scope`` places `operator_cache_scope`: "all" (one around
    every run, so later runs reuse run 1's caches and the min is the
    steady state), "each" (a fresh one per run, so every run starts cold)
    or None (no scope)."""
    secs, out = [], None
    with operator_cache_scope() if scope == "all" else nullcontext():
        for i in range(runs):
            with operator_cache_scope() if scope == "each" else nullcontext():
                start = time.perf_counter()
                out = run(i)
                if isinstance(out, DataFrame):
                    out.write.format("noop").mode("overwrite").save()
                secs.append(time.perf_counter() - start)
    return secs, out


def best(run, runs=2, scope="each") -> float:
    """Min seconds of `timed` over zero-argument ``run``. Min-of-2 with
    a cold scope per run is the default: single-shot numbers on a shared
    host produced phantom regressions."""
    return round(min(timed(lambda _: run(), runs, scope)[0]), 3)


def spread(secs: list[float]) -> float:
    """(max - min) / min over a row's runs: the same-run noise band."""
    return round((max(secs) - min(secs)) / max(min(secs), 1e-9), 3)


def plan_shuffles(df: DataFrame) -> int:
    """Exchanges in the executed plan: an accidental extra one is the
    classic way a linear operator goes quadratic at scale."""
    return df._jdf.queryExecution().executedPlan().toString().count("Exchange")


def replicas(df: DataFrame, factor: int, key: str, *cols) -> DataFrame:
    """``factor`` copies of ``df``: copy ``rep`` is keyed
    ``key * factor + rep`` and carries ``cols``, which may read ``rep``."""
    reps = df.sparkSession.range(factor).select(F.col("id").alias("rep"))
    return df.crossJoin(F.broadcast(reps)).select(
        (F.col(key) * factor + F.col("rep")).alias(key), *cols
    )


def marker_replicas(docs: DataFrame, factor: int) -> DataFrame:
    """``factor`` copies of a documents table with the copy's marker fused
    INTO every whitespace token (``w`` → ``wxrN``), so each copy's shingle
    set is isomorphic to the base corpus with no cross-copy overlap: the
    duplicate structure, and so the pair count, scales exactly by
    ``factor`` (tests/test_bench.py). The tokens must be alphanumeric
    runs, as in the test data. A marker as its own token would sit in
    every 3-gram and inflate Jaccard between unrelated docs of one copy
    (85× spurious band-collision candidates at sf0.1 ×10)."""
    fused = F.regexp_replace(
        F.col("text"), r"(\S+)", F.concat(F.lit(r"$1xr"), F.col("rep").cast("string"))
    )
    return replicas(docs, factor, "doc_id", fused.alias("text"), "lang", "source")


def warmup(spark, queries, names, sf_dir) -> None:
    """Run each query once so whole-stage codegen is compiled (and
    janino-cached) before timing; best-effort, the timed run surfaces
    real errors."""
    for name in names:
        try:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass


def calibrate(spark) -> tuple[float, list[float]]:
    """Machine calibration: (median, all 5 probes) of a fixed 1e8-row
    codegen'd aggregate. The median survives one probe stolen by the
    hypervisor; the raw probes ship in the artifact."""
    secs, _ = timed(
        lambda _: spark.range(100_000_000).selectExpr("sum(id * 3 + 1) as s"), 5, None
    )
    probes = [round(s, 3) for s in secs]
    return sorted(probes)[2], probes


def headline_result(rows: dict, stages: dict, calib: tuple, sf: float) -> dict:
    """The headline section shared by the stdout line, the full artifact
    and the exclusive section. ``rows`` maps each row to its per-run
    seconds; ``calib`` is the (median, probes) calibration at start and
    end. The divisor across runs is the START median (the same JVM
    warmth as every earlier single snapshot); the end one only shows
    within-run warmth. A move outside a row's spread is plan drift,
    inside it is noise."""
    (cal, probes), (cal_end, probes_end) = calib
    timings = {k: round(min(v), 3) for k, v in rows.items()}
    total = round(sum(timings.values()), 3)
    steady = sorted(probes)[:4]  # minus the largest, the cold first probe
    return {
        "metric": "headline_query_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min_of_3": timings,
        "queries_spread": {k: spread(v) for k, v in rows.items()},
        "queries_first_run": {k: round(v[0], 3) for k, v in rows.items()},
        "queries_cal": {k: round(v / cal, 2) for k, v in timings.items()},
        "value_cal": round(total / cal, 2),
        "calibration_start_sec": cal,
        "calibration_end_sec": cal_end,
        "calibration_probes_start": probes,
        "calibration_probes_end": probes_end,
        # calibrated numbers are untrustworthy when the host degraded
        # mid-run (end >1.5x start) or the start probes themselves swung
        "calib_unstable": cal_end / cal > 1.5 or steady[-1] / steady[0] > 1.5,
        "pipeline_run_week_stages": stages,
        "calibration_1e8_agg_sec": cal,
        "sf": sf,
    }


def write_detail(result: dict, section: str | None = None) -> None:
    """Write BENCH_LOCAL.json: a full run replaces it but keeps the
    committed ``exclusive`` section; a ``section`` run replaces only that
    section."""
    prior: dict = {}
    try:
        with open(DETAIL_PATH) as f:
            prior = json.load(f)
    except (json.JSONDecodeError, OSError):
        pass  # a missing or corrupt prior artifact must not lose this run
    if section:
        result = {**prior, section: result}
    elif "exclusive" in prior:
        result["exclusive"] = prior["exclusive"]
    with open(DETAIL_PATH, "w") as f:
        json.dump(result, f, indent=1)


def time_run_week(spark, sf: float) -> tuple[list[float], dict]:
    """One weekly pipeline run (ingest → clean → staging → 3 SCD2 merges
    → fact load → quality gates) per fresh warehouse over generated
    listings. Returns the per-run seconds and the stages of the min run
    (they sum to the row) with each stage's spread across runs."""
    from manifold_spark.catalog import TableStore
    from manifold_spark.pipeline import run_week
    from manifold_spark.sources.fixtures import generate_week

    raw_root = tempfile.mkdtemp(prefix="bench-raw-")
    generate_week(raw_root, "2024-01-01", int(100_000 * max(sf / 0.1, 0.01)))
    stores = [TableStore(tempfile.mkdtemp(prefix="bench-wh-")) for _ in range(HEADLINE_RUNS)]
    stage_runs: list[dict] = [{} for _ in range(HEADLINE_RUNS)]
    secs, _ = timed(
        lambda i: run_week(spark, stores[i], raw_root, "2024-01-01", stage_timings=stage_runs[i]),
        HEADLINE_RUNS, None,
    )
    for root in [raw_root] + [s.root for s in stores]:
        shutil.rmtree(root, ignore_errors=True)
    stages = stage_runs[secs.index(min(secs))]
    stages["_spread"] = {k: spread([r[k] for r in stage_runs]) for k in stages}
    return secs, stages


def ann_rows(spark, sf_dir: str) -> dict:
    """PQ-ADC ANN rows (not registry keys; `tests/test_pq.py` pins their
    plumbing to sim_topk_bruteforce): end to end (codebook training +
    encode + ADC scan + exact re-rank), then the steady state over an
    index built and persisted once, so the whole ANN ladder has a
    production search cost next to its end-to-end row."""
    from manifold_spark.operators import DIM, N_QUERIES, TOP_K, pq
    from manifold_spark.operators import similarity as sim
    from manifold_spark.queries import _t

    emb = _t(spark, sf_dir, "embeddings")
    emb_q = emb.filter(F.col("vec_id") < N_QUERIES)
    rows = {
        "sim_ann_pq": best(lambda: pq.topk_pq(emb_q, emb, DIM, k=TOP_K)),
        "sim_ann_ivf_pq": best(lambda: pq.topk_ivf_pq(emb_q, emb, DIM, k=TOP_K)),
        # codes quantize v − c(v): finer quantization, same search plumbing
        "sim_ann_ivf_pq_residual": best(
            lambda: pq.topk_ivf_pq(emb_q, emb, DIM, k=TOP_K, residual=True)
        ),
    }
    cb = pq.pq_codebooks(emb, DIM)
    cents = emb.orderBy("vec_id").limit(16)
    for name, index, search in (
        (
            "sim_ann_pq_search_only",
            lambda: pq.encode(emb, cb, DIM),
            lambda idx: pq.topk_pq(emb_q, emb, DIM, k=TOP_K, codebooks=cb, encoded=idx),
        ),
        (
            "sim_ann_ivf_pq_search_only",
            lambda: pq.ivf_pq_index(emb, cb, DIM, cents),
            lambda idx: pq.topk_ivf_pq(
                emb_q, emb, DIM, k=TOP_K, codebooks=cb, centroids=cents, encoded=idx
            ),
        ),
        (
            # plain IVF over inverted lists persisted once (SCALING.md),
            # next to sim_ann_ivf, which re-assigns the corpus every run
            "sim_ann_ivf_search_only",
            lambda: sim.assign_centroids(emb, cents, DIM),
            lambda idx: sim.topk_ivf(
                emb_q, emb, DIM, k=TOP_K, nprobe=4, centroids=cents, lists=idx
            ),
        ),
    ):
        idx = index().persist()
        idx.count()
        rows[name] = best(lambda: search(idx), scope=None)
        idx.unpersist()
    return rows


def diag_row(build, runs: int, diag: bool = True) -> tuple[DataFrame, dict]:
    """Timed cold runs of the frame build(None), then one untimed build(d)
    run that fills the operator's diagnostics counters d. Returns the last
    timed frame and {"sec": min seconds, **counters}."""
    secs, df = timed(lambda _: build(None), runs)
    counters: dict = {}
    if diag:
        timed(lambda _: build(counters), 1)
    return df, {"sec": round(min(secs), 3), **{k: int(v) for k, v in counters.items()}}


def scale_rows(spark, sf_dir: str, docs: DataFrame) -> dict:
    """Superlinear-regression tiers. scale10: the dedup/ANN/text operators
    at 10× documents and embeddings; a linear plan lands near 10× its
    base row and a quadratic one at 100×. skew: the dedup caps under fire
    (half the corpus collapses onto one template), with diagnostics that
    must show them engaged."""
    from manifold_spark.operators import (
        IVF_CENTROIDS,
        IVF_NPROBE,
        NGRAM_MAX_DF,
        SKEW_MAX_BUCKET,
        SKEW_MAX_DF,
        TOP_K,
        _LINE_CHUNK_PATTERN,
        skewed_corpus,
        skewed_embeddings,
    )
    from manifold_spark.operators import dedup
    from manifold_spark.operators import similarity as sim
    from manifold_spark.operators.bpe import train_bpe
    from manifold_spark.operators.c4 import c4_filters
    from manifold_spark.operators.classifier import classify_self
    from manifold_spark.operators.lm import score_docs
    from manifold_spark.operators.repetition import repetition_signals
    from manifold_spark.queries import _t

    factor = 10
    docs10 = marker_replicas(docs, factor)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb10 = replicas(emb, factor, "vec_id", "embedding")
    scale10_rows = {
        "dedup_exact_10x": lambda: dedup.exact_dedup(docs10, "text", "doc_id"),
        "dedup_minhash_lsh_10x": lambda: dedup.minhash_lsh_pairs(
            docs10, "text", "doc_id", threshold=0.3
        ),
        "dedup_simhash_10x": lambda: dedup.simhash_pairs(docs10, "text", "doc_id", max_hamming=6),
        # max_df stays at the BASE value: a fused shingle's document
        # frequency at 10× equals its base one
        "dedup_ngram_jaccard_10x": lambda: dedup.ngram_jaccard_pairs(
            docs10, "text", "doc_id", ["lang", "source"], threshold=0.1, max_df=NGRAM_MAX_DF
        ),
        "sim_ann_ivf_10x": lambda: sim.topk_ivf(
            emb10.filter(F.col("vec_id") < 8), emb10, 64,
            k=TOP_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
        ),
        "text_repetition_10x": lambda: repetition_signals(docs10),
        "text_lm_score_10x": lambda: score_docs(docs10),
        "text_span_dedup_10x": lambda: dedup.span_dedup(docs10, "text", "doc_id"),
        # markers keep the 5-token lines distinct across copies
        "text_line_dedup_10x": lambda: dedup.line_dedup(
            docs10.withColumn(
                "text", F.regexp_replace(F.col("text"), r"((?:\S+ ){4}\S+) ", "$1\n")
            ),
            "text", "doc_id",
        ),
        "text_classifier_nb_10x": lambda: classify_self(docs10),
        # clusters scale with the corpus (k ≈ n/⟨cluster⟩) to keep
        # occupancy constant; a fixed k is quadratic (709 s measured)
        "sim_semdedup_10x": lambda: sim.semdedup(
            emb10, 64, n_clusters=IVF_CENTROIDS * factor, iters=2,
            threshold=0.2, max_cluster=2_000,
        ),
        "text_c4_filters_10x": lambda: c4_filters(
            docs10.withColumn(
                "text", F.regexp_replace(F.col("text"), _LINE_CHUNK_PATTERN, "$1.\n")
            ),
            min_words_per_line=5,
            min_kept_lines=3,
            line_drop_terms=("javascript", "spark"),
            blocklist=("lorem ipsum", "slow join"),
        ),
        "dedup_bloom_10x": lambda: dedup.bloom_dedup_flags(
            docs10, docs10.filter(F.col("doc_id") % 2 == 0)
        ),
        # the marker multiplies the distinct vocab by 10
        "text_bpe_10x": lambda: train_bpe(docs10, 8, min_pair_freq=2)[1],
    }
    out: dict = {"scale10": {}, "plan_shuffles": {}, "minhash_diag": {}, "skew": {}}
    for name, build in scale10_rows.items():
        secs, df = timed(lambda _: build())
        out["scale10"][name] = round(min(secs), 3)
        out["plan_shuffles"][name] = plan_shuffles(df)
    # untimed: is the max_bucket cap binding, and how do candidate pairs
    # grow from 1× to 10×?
    with operator_cache_scope():
        for tier, corpus in (("base", docs), ("scale10", docs10)):
            d: dict = {}
            d["verified_pairs"] = dedup.minhash_lsh_pairs(
                corpus, "text", "doc_id", threshold=0.3, diagnostics=d
            ).count()
            out["minhash_diag"][tier] = d

    skew_docs = skewed_corpus(docs)
    skew_emb = skewed_embeddings(_t(spark, sf_dir, "embeddings"))
    for name, build in (
        (
            "minhash_lsh_skew",
            lambda d: dedup.minhash_lsh_pairs(
                skew_docs, "text", "doc_id", threshold=0.3,
                max_bucket=SKEW_MAX_BUCKET, diagnostics=d,
            ),
        ),
        (
            "ngram_jaccard_skew",
            lambda d: dedup.ngram_jaccard_pairs(
                skew_docs.withColumn("blk", F.lit(1)), "text", "doc_id", ["blk"],
                threshold=0.3, max_df=SKEW_MAX_DF, diagnostics=d,
            ),
        ),
        (
            # even-id vectors collapse onto one vector, so the RP
            # fingerprint buckets hold ~corpus/2 entries
            "rp_lsh_skew",
            lambda d: sim.rp_lsh_near_dup(
                skew_emb, 64, threshold=0.2, max_bucket=SKEW_MAX_BUCKET, diagnostics=d,
            ),
        ),
    ):
        out["skew"][name] = diag_row(build, 2)[1]

    return out


def scale30_rows(docs: DataFrame) -> dict:
    """One cold run at 30× of the rows claiming linear pair formation:
    time ratio ≈ data ratio (±30%) with healthy cap diagnostics passes
    (SCALING.md)."""
    from manifold_spark.operators import NGRAM_MAX_DF
    from manifold_spark.operators import dedup
    from manifold_spark.operators.lm import score_docs

    rows: dict = {}
    docs30 = marker_replicas(docs, 30)
    for name, build, diag in (
        (
            "dedup_minhash_lsh_30x",
            lambda d: dedup.minhash_lsh_pairs(
                docs30, "text", "doc_id", threshold=0.3, diagnostics=d
            ),
            True,
        ),
        (
            "dedup_ngram_jaccard_30x",
            lambda d: dedup.ngram_jaccard_pairs(
                docs30, "text", "doc_id", ["lang", "source"],
                threshold=0.1, max_df=NGRAM_MAX_DF, diagnostics=d,
            ),
            True,
        ),
        # the one 10× text row that once read superlinear (measured
        # linear in one session; its model table stays charset-bounded)
        ("text_lm_score_30x", lambda d: score_docs(docs30), False),
    ):
        df, row = diag_row(build, 1, diag)
        rows[name] = {**row, "plan_shuffles": plan_shuffles(df)}
    return rows


def touched_fraction(m: dict) -> float:
    """Bytes a trigger read from curation state over the state's total
    bytes (totals are post-trigger: the pruning signal, not an exact
    pre-image ratio; trigger 0 reads nothing)."""
    read_b = sum(
        v for k, v in m.items() if k.endswith("_bytes") and not k.startswith("state_total")
    )
    tot = m.get("state_total_bytes", 0)
    return round(read_b / tot, 4) if tot else 0.0


def incremental_rows(spark, docs: DataFrame) -> dict:
    """The continuous-ingestion paths. minhash: 3 id-disjoint
    micro-batches through minhash_index_upsert with append-shaped parquet
    state, as a foreachBatch sink would run them. curation_store*: 6
    triggers of `curation_sink` against the bucketed, snapshot-compacted
    `CurationState` store (compaction engages mid-run; audit off, the
    production fast path) at 16-way and 256-way prefixes, with per-trigger
    pruned state reads, plus one tiny trigger where finer buckets must
    show a smaller touched fraction. The seed-model fit is paid once per
    corpus epoch and published on its own."""
    from manifold_spark.curation import curation_models, curation_sink
    from manifold_spark.operators import _LINE_CHUNK_PATTERN
    from manifold_spark.operators import dedup

    inc_root = tempfile.mkdtemp(prefix="bench-mhindex-")
    parts = ("entries", "shingles", "sizes")
    state = None

    def trigger(i):
        # persist the batch's index parts once, pair the batch against
        # the accumulated state, then read all versions as the next state
        nonlocal state
        b = docs.filter(F.col("doc_id") % 3 == i)
        for part, frame in dedup.minhash_index(b, "text", "doc_id").items():
            frame.write.parquet(f"{inc_root}/{part}/v{i}")
        pairs, _ = dedup.minhash_index_upsert(
            b, state, "text", "doc_id", threshold=0.3,
            batch_index={p: spark.read.parquet(f"{inc_root}/{p}/v{i}") for p in parts},
        )
        pairs.write.format("noop").mode("overwrite").save()
        state = {p: spark.read.parquet(f"{inc_root}/{p}/v*") for p in parts}

    start = time.perf_counter()
    secs, _ = timed(trigger, 3)
    incremental = {
        "minhash_3batch_sec": round(time.perf_counter() - start, 3),
        "per_batch_sec": [round(s, 3) for s in secs],
    }
    shutil.rmtree(inc_root, ignore_errors=True)

    cur_root = tempfile.mkdtemp(prefix="bench-curinc-")
    cur_docs = docs.withColumn(
        "text",
        F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), _LINE_CHUNK_PATTERN, "$1.\n"),
    )
    n_docs_total = cur_docs.count()
    knobs = dict(
        min_words_per_line=5, min_kept_lines=3, require_terminal_punct=True,
        lsh_threshold=0.3, pack_budget=512,
    )

    def fit(_):
        models = curation_models(cur_docs)
        for name, frame in models.items():
            frame.write.mode("overwrite").parquet(f"{cur_root}/models/{name}")
        return {name: spark.read.parquet(f"{cur_root}/models/{name}") for name in models}

    secs, models = timed(fit, 1)
    incremental["curation_model_fit_sec"] = round(secs[0], 3)

    n_batches = 6
    slice_w = max(n_docs_total // n_batches, 1)
    for label, store_knobs in (
        ("curation_store", {}),  # defaults: 16-way prefixes, 16 doc buckets
        ("curation_store256", {"hash_prefix_len": 2, "key_prefix_len": 2, "doc_buckets": 64}),
    ):
        store_root = tempfile.mkdtemp(prefix=f"bench-{label}-")
        state_metrics: list = []
        sink = curation_sink(
            models, f"{store_root}/state", f"{store_root}/out",
            compact_every=3, state_metrics=state_metrics,
            audit=False, **store_knobs, **knobs,
        )
        secs, _ = timed(
            lambda i: sink(
                cur_docs.filter(
                    (F.col("doc_id") >= i * slice_w)
                    & (F.col("doc_id") < ((i + 1) * slice_w if i < n_batches - 1 else 1 << 62))
                ),
                i,
            ),
            n_batches, None,
        )
        kept = {
            int(r["batch_id"]): int(r["n"])
            for r in spark.read.parquet(f"{store_root}/out")
            .groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # the tiny 7th trigger (~1% of a batch): bucket granularity only
        # pays when the batch is small against the bucket count
        small = cur_docs.filter(F.col("doc_id") % 97 == 13).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            "lang",
            F.concat(F.col("text"), F.lit(" smalltrigger tail.")).alias("text"),
        )
        small_sec = best(lambda: sink(small, n_batches), 1, None)
        reads = [
            {k: int(v) for k, v in m.items() if k != "batch_id"}
            for m in sorted(state_metrics, key=lambda m: m["batch_id"])
        ]
        small_reads = reads.pop()
        incremental[f"{label}_per_batch_sec"] = [round(s, 3) for s in secs]
        incremental[f"{label}_kept_per_batch"] = [kept.get(i, 0) for i in range(n_batches)]
        incremental[f"{label}_state_reads"] = reads
        incremental[f"{label}_touched_fraction"] = [touched_fraction(m) for m in reads]
        incremental[f"{label}_small_trigger"] = {
            "sec": small_sec,
            "touched_fraction": touched_fraction(small_reads),
            **small_reads,
        }
        shutil.rmtree(store_root, ignore_errors=True)
    shutil.rmtree(cur_root, ignore_errors=True)
    return incremental


def ann_store_rows(spark, sf_dir: str) -> dict:
    """The disk-backed IVF(-PQ) cells of `AnnIndexStore`. Build is split:
    initialize on the first third (codebooks and centroids freeze there),
    a plain append, and an append crossing compact_every=2. Probes publish
    their pruned reads next to the state totals: a probe reads O(nprobe
    cells), never the corpus, and the PQ probe's codes_bytes against the
    raw probe's vecs_bytes is the code-size compression. The distributed
    probes query with the whole corpus (no query collect or broadcast).
    Result equality is pinned in tests/test_ann_store.py."""
    from manifold_spark.operators.ann_store import AnnIndexStore

    ann_root = tempfile.mkdtemp(prefix="bench-annstore-")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    n_vec = emb.count()
    third = max(n_vec // 3, 1)
    vec_id = F.col("vec_id")
    ann = AnnIndexStore(spark, f"{ann_root}/state", compact_every=2)
    rows: dict = {"n_vectors": n_vec, "n_centroids": 32, "nprobe": 4, "n_queries": 16}
    for key, build in (
        (
            "init_sec",
            lambda: ann.initialize(
                emb.filter(vec_id < third), n_centroids=32, use_pq=True, sample_fraction=0.2
            ),
        ),
        ("append_sec", lambda: ann.append(emb.filter((vec_id >= third) & (vec_id < 2 * third)))),
        ("append_with_compaction_sec", lambda: ann.append(emb.filter(vec_id >= 2 * third))),
    ):
        rows[key] = best(build, 1, None)
    ann.collect_read_stats = True
    ann_q = emb.filter(vec_id < 16)
    for key, reads, build in (
        ("probe_ivf_sec", "probe_ivf_reads", lambda: ann.topk(ann_q, k=5, nprobe=4)),
        ("probe_pq_sec", "probe_pq_reads", lambda: ann.topk_pq(ann_q, k=5, nprobe=4)),
        (
            "probe_distributed_corpus_scale_sec",
            "probe_distributed_reads",
            lambda: ann.topk(emb, k=5, nprobe=4, distributed=True),
        ),
        (
            "probe_pq_distributed_corpus_scale_sec",
            "probe_pq_distributed_reads",
            lambda: ann.topk_pq(emb, k=5, nprobe=4, distributed=True),
        ),
    ):
        rows[key] = best(build, 1, None)
        rows[reads] = {k: int(v) for k, v in ann.read_stats.items()}
    rows["probe_distributed_n_queries"] = n_vec
    rows["probe_pq_distributed_n_queries"] = n_vec
    rows.update(ann.state_totals())
    shutil.rmtree(ann_root, ignore_errors=True)
    return rows


def generate_scale_data(spark, sf_dir: str, data: str) -> None:
    """Key-shifted replicas of the sf tables under ``data``, 32 files per
    big table so `ensure_parallelism` no-ops and scan parallelism is
    native. Deterministic; skipped when ``data`` holds a finished set
    (delete the dir to regenerate)."""
    os.makedirs(data, exist_ok=True)
    done = os.path.join(data, "_GENERATED")
    if os.path.exists(done):
        return
    start = time.perf_counter()

    def read(table):
        return spark.read.parquet(f"{sf_dir}/{table}.parquet")

    def write(df, table):
        df.repartition(32).write.mode("overwrite").parquet(f"{data}/{table}.parquet")

    for table, key in (
        ("lineitem", "l_orderkey"), ("orders", "o_orderkey"), ("customer", "c_custkey")
    ):
        df = read(table)
        write(replicas(df, FACT_FACTOR, key, *[c for c in df.columns if c != key]), table)
    # the user shift keeps per-user session structure identical per copy
    user = F.concat(F.col("user_id"), F.lit("#"), F.col("rep").cast("string"))
    write(
        replicas(read("events"), FACT_FACTOR, "event_id", "ts", user.alias("user_id"),
                 "event_type", "value", "props"),
        "events",
    )
    docs = marker_replicas(read("documents"), DOC_FACTOR)
    write(docs.withColumn("n_chars", F.length("text")), "documents")
    write(replicas(read("embeddings"), DOC_FACTOR, "vec_id", "embedding", "label"), "embeddings")
    for table in ("region", "nation", "part", "supplier"):
        read(table).coalesce(1).write.mode("overwrite").parquet(f"{data}/{table}.parquet")
    with open(done, "w") as f:
        f.write(f"generated in {time.perf_counter() - start:.1f}s\n")


def scaling(sf_dir: str, cpus: int, sf: float) -> None:
    """Scaling mode: generation runs outside the timed region, the
    warmup runs on the base sf dir, then each row runs once, cold."""
    # default: scale_data beside the directory holding the sf dirs
    data = os.environ.get(
        "SPARK_GRAFT_SCALE_DATA",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(sf_dir))), "scale_data"),
    )
    spark = get_spark(
        app_name=f"manifold-spark-scaling-c{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": driver_heap(24),
            # the default 128 MB maxPartitionBytes packs the 32 small
            # files a table into 1-5 splits, serializing the scans at any
            # core count; a floor of 2 × cores makes the split count
            # follow the core count this mode measures
            "spark.sql.files.minPartitionNum": str(2 * cpus),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    generate_scale_data(spark, sf_dir, data)

    from manifold_spark.queries import all_queries

    queries = all_queries()
    warmup(spark, queries, SCALING_QUERIES, sf_dir)
    timings: dict[str, float] = {}
    for name in SCALING_QUERIES:
        spark.sparkContext.setJobDescription(f"scaling:{name}")
        timings[name] = best(partial(queries[name], spark, data), 1)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({
        "metric": "scaling_tier_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "fact_factor": FACT_FACTOR,
        "doc_factor": DOC_FACTOR,
        "data_dir": data,
    }))


def main() -> None:
    # Sampled before Spark starts: external contention evidence for the
    # exclusive section (loadavg at END is dominated by this bench's
    # own threads and says nothing about neighbors).
    loadavg_at_start = [round(x, 2) for x in os.getloadavg()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf_tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf = float(sf_tag)
    mode = os.environ.get("SPARK_GRAFT_BENCH_MODE")
    if mode == "scaling":
        scaling(sf_dir, int(cpus), sf)
        return

    spark = get_spark(
        app_name="manifold-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": driver_heap(16)},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from manifold_spark.queries import all_queries

    queries = all_queries()
    calib_start = calibrate(spark)
    # Warm up at the smallest scale factor: single-threaded codegen, not
    # data processing, dominates variance on a shared machine.
    warmup(spark, queries, HEADLINE, sf_dir.replace(f"sf{sf_tag}", "sf0.001"))

    # Min of three runs in one scope: the per-query spread is the same-run
    # noise band, and queries_first_run (run 1) is the cold cost.
    rows = {
        name: timed(lambda _: queries[name](spark, sf_dir), HEADLINE_RUNS, "all")[0]
        for name in HEADLINE
    }

    if mode == "exclusive":
        rows["pipeline_run_week"], stages = time_run_week(spark, sf)
        head = headline_result(rows, stages, (calib_start, calibrate(spark)), sf)
        exclusive = {
            "stamp_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "loadavg_at_start": loadavg_at_start,
            "loadavg_at_end": [round(x, 2) for x in os.getloadavg()],
            **{k: v for k, v in head.items()
               if k not in ("metric", "unit", "queries", "calibration_1e8_agg_sec")},
        }
        write_detail(exclusive, "exclusive")
        print(json.dumps({"mode": "exclusive", **exclusive}))
        return

    extended = {name: best(partial(queries[name], spark, sf_dir)) for name in EXTENDED}
    extended.update(ann_rows(spark, sf_dir))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scale = scale_rows(spark, sf_dir, docs)
    incremental = incremental_rows(spark, docs)
    ann_store = ann_store_rows(spark, sf_dir)

    # Recall of every approximate operator against exact ground truth
    # (floors asserted in tests/test_recall_floors.py).
    from manifold_spark.operators.recall import quality_report

    secs, quality = timed(lambda _: quality_report(spark, sf_dir), 1)
    quality["_seconds"] = round(secs[0], 1)
    scale30 = scale30_rows(docs)

    # The weekly pipeline against the reference's ~4,600 rec/s budget
    # (BASELINE.md): a headline row, timed after the other tiers.
    rows["pipeline_run_week"], stages = time_run_week(spark, sf)

    # The composed curation pass as one row, its 7 audit count() actions
    # included: that is the operation users run.
    from manifold_spark.curation import curate_corpus

    extended["curation_pipeline"] = best(
        lambda: curate_corpus(docs, pack_budget=512)[0]
    )

    head = headline_result(rows, stages, (calib_start, calibrate(spark)), sf)
    write_detail({
        **head,
        "extended": extended,
        "scale10": scale["scale10"],
        "scale30": scale30,
        "skew": scale["skew"],
        "incremental": incremental,
        "ann_store": ann_store,
        "quality": quality,
        "minhash_diag": scale["minhash_diag"],
        "plan_shuffles": scale["plan_shuffles"],
        "shuffle_partitions": int(cpus),
    })
    # Readers parse the last JSON line of a bounded stdout tail, which the
    # full result overflows: stdout gets the headline only, last.
    print(json.dumps({**{k: head[k] for k in STDOUT_KEYS}, "detail": "BENCH_LOCAL.json"}))


if __name__ == "__main__":
    main()
