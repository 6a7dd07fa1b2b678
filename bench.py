#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is forced end-to-end with a noop sink (full execution, no
driver materialization). A warmup pass on the smallest table absorbs JVM
/ codegen startup so per-query numbers measure the plan, not the JIT.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from manifold_spark.session import get_spark  # noqa: E402

#: The headline subset: one per operator family (star join, SCD2 merge,
#: date dim, exact + fuzzy dedup, ANN, text stats, streaming-batch twins).
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
    # r5: text_quality + text_language_id (plus tokens/fingerprint) merged
    # into the single one-pass text_stats key — the headline total now has
    # one text entry doing strictly more work than the two it replaces.
    "text_stats",
    # r9: events_hourly_rollup folded into events_type_stats (grain union);
    # the hourly branch now runs inside that key's bench row.
    "events_type_stats",
    "events_sessionize",
    "events_json_extract",
    "events_asof_join",
    "topn_per_group",
]


def main() -> None:
    # Sampled before Spark starts: external contention evidence for the
    # exclusive section (loadavg at END is dominated by this bench's
    # own 32 threads and says nothing about neighbors).
    loadavg_at_start = [round(x, 2) for x in os.getloadavg()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    spark = get_spark(
        app_name="manifold-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from manifold_spark.queries import all_queries

    queries = all_queries()

    # Machine calibration (r6): a fixed JVM workload (1e8-row codegen'd
    # aggregate, min-of-2) so cross-round comparisons can normalize for
    # host speed instead of inferring it from unchanged queries — this
    # round's host ran ×1.2–×3.8 slower than r5's depending on load, which
    # masqueraded as regressions until calibrated. r7: measured at BOTH
    # ends of the suite (observed swings: 0.184→0.257 within r6, 0.257 vs
    # 0.183 across r6→r7 shipped artifacts). The normalization divisor
    # `calibration_1e8_agg_sec` is the START snapshot only (min of its 2
    # runs) — the same JVM-warmth position as every earlier round's
    # single snapshot, so it is the cross-round-comparable quantity; the
    # end snapshot ships alongside purely for within-run warmth
    # visibility (r7 measured 0.201→0.064 across one suite — a
    # 30-minute run leaves the calibrator janino-cached and C2-JITed, a
    # DIFFERENT quantity that must not enter the divisor).
    def _calibrate() -> tuple[float, list[float]]:
        """(median, all 5 probes) — r13 (VERDICT r12 #8): the probe
        swung 0.196-0.533 within one r12 afternoon (hypervisor steal),
        so the divisor is now the MEDIAN of 5 probes (robust to one
        stolen probe) and the raw probe lists ship in the artifact; the
        `calib_unstable` flag marks runs whose start/end medians differ
        >1.5x so cross-round calibrated comparisons self-invalidate."""
        probes = []
        for _ in range(5):
            c0 = time.perf_counter()
            spark.range(100_000_000).selectExpr("sum(id * 3 + 1) as s").write.format(
                "noop"
            ).mode("overwrite").save()
            probes.append(round(time.perf_counter() - c0, 3))
        return sorted(probes)[2], probes

    calib_start, calib_probes_start = _calibrate()
    calib = calib_start

    def _calib_unstable(end_med: float) -> bool:
        """True when calibrated numbers shouldn't be trusted across
        rounds (review r13 — covers BOTH failure modes): (a) the host
        degraded mid-run (end median >1.5x start — end FASTER is normal
        JVM warmth and must not flag), or (b) the start window ITSELF
        was unstable — the divisor's own probes (minus the single
        largest, the expected cold first probe) still swing >1.5x,
        the r12 steal signature that inflates calib silently."""
        steady = sorted(calib_probes_start)[:4]
        return (end_med / calib_start > 1.5) or (
            steady[-1] / steady[0] > 1.5
        )

    # Warmup at the smallest scale factor: every query runs once on
    # sf0.001 so whole-stage codegen is compiled (and janino-cached by
    # identical source) before timing. The timed pass then measures data
    # processing, not single-threaded compilation — which on a shared
    # machine dominates variance for the expression-heavy operators.
    warm_dir = sf_dir.replace(f"sf{sf_dir.rstrip('/').rsplit('sf', 1)[-1]}", "sf0.001")
    for name in HEADLINE:
        try:
            queries[name](spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass  # warmup is best-effort; the timed run surfaces real errors

    # Min of THREE timed runs (r10, VERDICT r9 #1): two consecutive driver
    # artifacts landed outside the documented ±9% same-code band on
    # verified-unchanged headline code, so the headline tier now
    # self-proves — per-plan codegen recompiles on every invocation
    # (generated source embeds fresh expression ids), and on a shared
    # machine that single-threaded compile plus scheduler contention is
    # the dominant noise term. The min is the steady-state
    # data-processing time; the published per-query SPREAD
    # ((max−min)/min over the 3 runs) is the same-run noise reading that
    # replaces cross-round prose about host drift: a regression OUTSIDE a
    # query's own spread is plan drift, inside it is noise.
    from manifold_spark.operators.dedup import operator_cache_scope

    HEADLINE_RUNS = 3
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    # r15 (VERDICT r14 #4): `queries_first_run` publishes run 1's wall
    # time ALONGSIDE the min-of-3 — the scope spans all 3 runs, so runs
    # 2-3 reuse run 1's tracked persists (CacheManager canonical-plan
    # matching) and the min is the steady-state number; the first run is
    # the cold, production-facing cost for one-shot queries. Additions
    # only: the `queries`/`queries_min_of_3` series is unchanged.
    first_run: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        runs: list[float] = []
        # scope spans ALL runs: later runs legitimately reuse run 1's
        # shingle cache (CacheManager matches canonical plans), so the min
        # reflects steady-state reuse; scope exit then releases so a long
        # bench session cannot accumulate dead caches across queries
        # (r7: scoped form per VERDICT r6 #8 — leak-proof on error too)
        with operator_cache_scope():
            for _ in range(HEADLINE_RUNS):
                start = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - start)
        timings[name] = round(min(runs), 3)
        spread[name] = round((max(runs) - min(runs)) / min(runs), 3)
        first_run[name] = round(runs[0], 3)

    # r12 (VERDICT r11 #4): EXCLUSIVE mode — the builder reruns the
    # headline tier on an otherwise-idle host and the numbers land in
    # the committed artifact as `BENCH_LOCAL.json.exclusive` (same
    # min-of-3 + spread schema, stamped with the run context), so a
    # driver-run regression can be adjudicated against a committed
    # contention-free baseline instead of NOTES prose. The driver's full
    # run PRESERVES the section (it only rewrites the other keys).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )

    run_week_stages: dict = {}

    def _time_run_week() -> None:
        """pipeline_run_week IS a headline row (min-of-3 + spread, fresh
        empty warehouse per run) — shared by the exclusive early-return
        and the full suite below."""
        import tempfile as _tf

        from manifold_spark.catalog import TableStore
        from manifold_spark.pipeline import run_week
        from manifold_spark.sources.fixtures import generate_week

        raw_root = _tf.mkdtemp(prefix="bench-raw-")
        n_listings = int(100_000 * max(sf / 0.1, 0.01))
        generate_week(raw_root, "2024-01-01", n_listings)
        runs = []
        stage_runs: list[dict] = []
        for _ in range(HEADLINE_RUNS):
            store = TableStore(_tf.mkdtemp(prefix="bench-wh-"))
            stages: dict = {}
            start = time.perf_counter()
            run_week(spark, store, raw_root, "2024-01-01", stage_timings=stages)
            runs.append(time.perf_counter() - start)
            stage_runs.append(stages)
        timings["pipeline_run_week"] = round(min(runs), 3)
        spread["pipeline_run_week"] = round((max(runs) - min(runs)) / min(runs), 3)
        first_run["pipeline_run_week"] = round(runs[0], 3)
        # r13 (VERDICT r12 #2): per-stage attribution — the stages OF THE
        # MIN-TOTAL RUN (so they sum to the headline row exactly), plus
        # each stage's (max-min)/min spread across the 3 runs so the next
        # oscillation names its stage from committed numbers alone.
        best = stage_runs[runs.index(min(runs))]
        run_week_stages.update(best)
        run_week_stages["_spread"] = {
            k: round(
                (max(r[k] for r in stage_runs) - min(r[k] for r in stage_runs))
                / max(min(r[k] for r in stage_runs), 1e-9),
                3,
            )
            for k in best
        }

    if os.environ.get("SPARK_GRAFT_BENCH_MODE") == "exclusive":
        _time_run_week()
        calib_end, calib_probes_end = _calibrate()
        total = round(sum(timings.values()), 3)
        exclusive = {
            "stamp_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "loadavg_at_start": loadavg_at_start,
            "loadavg_at_end": [round(x, 2) for x in os.getloadavg()],
            "value": total,
            "queries_min_of_3": timings,
            "queries_spread": spread,
            "queries_first_run": first_run,
            "pipeline_run_week_stages": run_week_stages,
            "queries_cal": {k: round(v / calib, 2) for k, v in timings.items()},
            "value_cal": round(total / calib, 2),
            "calibration_start_sec": calib_start,
            "calibration_end_sec": calib_end,
            "calibration_probes_start": calib_probes_start,
            "calibration_probes_end": calib_probes_end,
            "calib_unstable": _calib_unstable(calib_end),
            "sf": sf,
        }
        prior = {}
        if os.path.exists(detail_path):
            try:
                with open(detail_path) as f:
                    prior = json.load(f)
            except (json.JSONDecodeError, OSError):
                pass  # corrupt prior artifact must not lose this run
        prior["exclusive"] = exclusive
        with open(detail_path, "w") as f:
            json.dump(prior, f, indent=1)
        print(json.dumps({"mode": "exclusive", **exclusive}))
        return

    # Extended tier: the round-2+ gates, one timed run each — kept OUT of
    # the headline total so cross-round comparisons of "value" stay
    # apples-to-apples with round 1's 17-query definition.
    EXTENDED = [
        "dedup_clusters",
        "dedup_simhash",
        "emb_quantize_int8",
        "text_bm25",  # r8: vocab_topk key folded into this gate
        "text_contamination",
        "events_funnel",  # r9: retention folded into this gate (analysis union)
        "events_rolling_1h",
        # r7: sales_rollup_sets folded into sales_cube (gid moved over);
        # the cube gate carries the grouping-sets plan now.
        "sales_cube",
        # r7: span-level exact dedup (Lee et al. ExactSubstr shape) —
        # the pair-free dedup modality.
        "text_span_dedup",
        "shipping_priority",
        # r9: profile_orders key folded into audit_counts (see below in
        # this list) — the profile rows ride that row's timing now.
        # r12: multimodal_decode folded into multimodal_meta ('decode'
        # section) — this row now times the whole multimodal surface.
        "multimodal_meta",
        # r8 fold: full-corpus AND 10%-hash-sample Lloyd training now run
        # union-tagged inside the ONE kmeans gate (former
        # `sim_ann_ivf_kmeans_sampled` key) — this row times both.
        "sim_ann_ivf_kmeans",
        "sim_cosine_near_dup",
        # r12: sample_mix_sources + pack_context_windows folded into one
        # method-tagged gate (driver slots freed for the state-store
        # keys, whose per-phase costs the incremental/ann_store tiers
        # below split out — timing the gate wrappers would re-measure
        # those tiers with model-fit noise on top).
        "sampling_surface",
        # r5 consolidated gates (scalar surface, audit counts, per-type
        # event stats) — cheap, but benched so regressions are visible.
        "scalar_key_surface",
        "audit_counts",
        # r9: events_type_stats moved to the headline list (it absorbed the
        # former events_hourly_rollup headline row).
        # r5: random-hyperplane embedding LSH (the bucketed sibling of
        # sim_cosine_near_dup).
        "sim_rp_lsh_near_dup",
        # r6: adversarial-skew gates (caps engaged, oracle-exact), the deep
        # path-graph star-contraction gate, and the foreachBatch
        # batch-equivalence gate.
        "dedup_skew_guard",
        "dedup_clusters_deep",
        "stream_dedup_batches",
        # r8: Gopher repetition signals (one exploded counts shuffle +
        # scan-side line metrics) and CCNet-style char-trigram LM scoring
        # (charset³-bounded model, integer-quantized log terms).
        "text_repetition",
        "text_lm_score",
        # r8 late tranche: CCNet line-level dedup (count-aggregate + scrub,
        # span_dedup economics at line granularity) and the hashed-feature
        # NB classifier (one training aggregate + broadcast-model scoring).
        "text_line_dedup",
        "text_classifier_nb",
        # r9: SemDeDup (cluster-then-prune embedding dedup), C4 heuristic
        # cleaning (one shuffle-free projection), relational Bloom
        # membership (bit_or bitmap + broadcast probe), distributed BPE
        # training (vocab-bounded rounds over the one-pass word table).
        "sim_semdedup",
        "text_c4_filters",
        "dedup_bloom",
        "text_bpe",
    ]
    # min-of-2 here too (r5): single-shot extended numbers produced two
    # rounds of phantom "regressions" on this shared machine (r3's
    # sim_ann_ivf_kmeans 17.6 s and multimodal_decode 9.6 s both
    # recovered with zero code changes). Caches release between runs, so
    # the min is a clean re-execution, not cache reuse.
    extended: dict[str, float] = {}
    for name in EXTENDED:
        best = float("inf")
        for _ in range(2):
            # per-run scope: caches release between runs, so the min is a
            # clean re-execution, not cache reuse (see comment above)
            with operator_cache_scope():
                start = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - start)
        extended[name] = round(best, 3)

    # r6 late addition: PQ-ADC ANN (operators/pq.py) — not a registry key
    # (cap = 50; its plumbing is pinned bit-identical to the driver-gated
    # sim_topk_bruteforce by tests/test_pq.py), but timed here so the
    # 64×-compressed scan path has a perf row. End-to-end: Lloyd codebook
    # training + scan-side encode + ADC scan + exact re-rank.
    from pyspark.sql import functions as F

    from manifold_spark.operators import DIM as _DIM
    from manifold_spark.operators import N_QUERIES as _NQ
    from manifold_spark.operators import TOP_K as _TK
    from manifold_spark.operators import pq as _pq
    from manifold_spark.queries import _t as _t_read

    _emb = _t_read(spark, sf_dir, "embeddings")
    _emb_q = _emb.filter(F.col("vec_id") < _NQ)
    best = float("inf")
    for _ in range(2):
        with operator_cache_scope():  # frees the tracked PQ code cache too
            start = time.perf_counter()
            _pq.topk_pq(_emb_q, _emb, _DIM, k=_TK).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - start)
    extended["sim_ann_pq"] = round(best, 3)
    best = float("inf")
    for _ in range(2):
        with operator_cache_scope():
            start = time.perf_counter()
            _pq.topk_ivf_pq(_emb_q, _emb, _DIM, k=_TK).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - start)
    extended["sim_ann_ivf_pq"] = round(best, 3)
    # r7: residual-encoded IVF-PQ (codes quantize v − c(v)) — same
    # search plumbing, finer quantization; recall row published by the
    # quality tier (ann_ivf_pq_residual@k, 0.925 → 1.0 at sf0.1).
    best = float("inf")
    for _ in range(2):
        with operator_cache_scope():
            start = time.perf_counter()
            _pq.topk_ivf_pq(
                _emb_q, _emb, _DIM, k=_TK, residual=True
            ).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
    extended["sim_ann_ivf_pq_residual"] = round(best, 3)
    # The amortized shape: codebooks trained + codes persisted ONCE (the
    # production index build), then searches pay only ADC + re-rank —
    # this row is the steady-state per-query-batch cost the end-to-end
    # rows above amortize down to.
    _cb = _pq.pq_codebooks(_emb, _DIM)
    _enc = _pq.encode(_emb, _cb, _DIM).persist()
    _enc.count()
    best = float("inf")
    for _ in range(2):
        start = time.perf_counter()
        _pq.topk_pq(
            _emb_q, _emb, _DIM, k=_TK, codebooks=_cb, encoded=_enc
        ).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    _enc.unpersist()
    extended["sim_ann_pq_search_only"] = round(best, 3)
    # IVF-PQ steady state: codebooks pre-trained AND the (codes, list id)
    # index pre-materialized via ivf_pq_index — the probed-list search
    # cost next to the flat search-only row above.
    _cents = _emb.orderBy("vec_id").limit(16)
    _idx = _pq.ivf_pq_index(_emb, _cb, _DIM, _cents).persist()
    _idx.count()
    best = float("inf")
    for _ in range(2):
        start = time.perf_counter()
        _pq.topk_ivf_pq(
            _emb_q, _emb, _DIM, k=_TK, codebooks=_cb, centroids=_cents,
            encoded=_idx,
        ).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    _idx.unpersist()
    extended["sim_ann_ivf_pq_search_only"] = round(best, 3)
    # r7 (VERDICT r6 #5): plain-IVF steady state — the inverted lists
    # pre-materialized via assign_centroids (persist-once layout,
    # SCALING.md) so the production search cost is visible for the WHOLE
    # ANN ladder, not just the PQ tier: probe + scoring only, next to the
    # end-to-end sim_ann_ivf row that re-assigns the corpus every run.
    from manifold_spark.operators import similarity as _sim

    _lists = _sim.assign_centroids(_emb, _cents, _DIM).persist()
    _lists.count()
    best = float("inf")
    for _ in range(2):
        start = time.perf_counter()
        _sim.topk_ivf(
            _emb_q, _emb, _DIM, k=_TK, nprobe=4, centroids=_cents, lists=_lists,
        ).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - start)
    _lists.unpersist()
    extended["sim_ann_ivf_search_only"] = round(best, 3)

    # Superlinear-regression tier: the dedup/ANN operators at 10× the
    # documents/embeddings scale (sf0.1 → sf1-equivalent row counts). Each
    # replica fuses a replica marker INTO every word (`w` → `wxrN`) so each
    # replica's shingle set is isomorphic to the base corpus with zero
    # cross-replica overlap — the dup structure is preserved at 10× size
    # (verified-pair count lands at exactly 10× the base corpus's). The
    # marker must be alphanumeric-fused, NOT a separate/`_`-joined token:
    # the shingle tokenizer strips non-alphanumerics, and a standalone
    # marker token inserted between words puts the constant marker in
    # every 3-gram, inflating pairwise Jaccard between UNRELATED docs in
    # the same replica — measured at sf0.1×10 that artifact produced 218k
    # band-collision candidates vs the true 2,560 (85× spurious verify
    # work misread as superlinear operator growth in BENCH_r02).
    # One timed run each (these are the heavy ones); a plan that is
    # linear in corpus size should land near 10× its sf0.1 number, and a
    # quadratic regression lands at 100× — visible immediately.
    from pyspark.sql import functions as F

    from manifold_spark.operators import dedup as dedup_ops
    from manifold_spark.operators import similarity as sim_ops
    from manifold_spark.operators import IVF_CENTROIDS, IVF_NPROBE, NGRAM_MAX_DF, TOP_K
    from manifold_spark.operators.classifier import classify_self as _nb_classify
    from manifold_spark.operators.c4 import c4_filters as _c4_filters
    from manifold_spark.operators.lm import score_docs as _lm_score
    from manifold_spark.operators.repetition import repetition_signals as _rep_signals
    from manifold_spark.operators import _LINE_CHUNK_PATTERN as _chunk_pat

    factor = 10
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    docs10 = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
            F.regexp_replace(
                F.col("text"), r"(\S+)",
                F.concat(F.lit(r"$1xr"), F.col("rep").cast("string")),
            ).alias("text"),
            "lang",
            "source",
        )
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb10 = emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") * factor + F.col("rep")).alias("vec_id"), "embedding"
    )

    def _bpe_gate_frame(spark, d):
        from manifold_spark.operators.bpe import train_bpe

        _, words = train_bpe(d, 8, min_pair_freq=2)
        return words

    scale10_queries = {
        "dedup_exact_10x": lambda: dedup_ops.exact_dedup(docs10, "text", "doc_id"),
        "dedup_minhash_lsh_10x": lambda: dedup_ops.minhash_lsh_pairs(
            docs10, "text", "doc_id", threshold=0.3
        ),
        "dedup_simhash_10x": lambda: dedup_ops.simhash_pairs(
            docs10, "text", "doc_id", max_hamming=6
        ),
        "dedup_ngram_jaccard_10x": lambda: dedup_ops.ngram_jaccard_pairs(
            docs10, "text", "doc_id", ["lang", "source"],
            # max_df stays at the BASE value: marker-fused shingles never
            # cross replicas, so each shingle's document frequency at 10×
            # equals its base-corpus df (scaling by `factor` would admit
            # 10× heavier blocks than the base run ever verifies).
            threshold=0.1, max_df=NGRAM_MAX_DF,
        ),
        "sim_ann_ivf_10x": lambda: sim_ops.topk_ivf(
            emb10.filter(F.col("vec_id") < 8), emb10, 64,
            k=TOP_K, n_centroids=IVF_CENTROIDS, nprobe=IVF_NPROBE,
        ),
        # r8 text-quality tier at 10×: the exploded-counts shuffle
        # (repetition), the charset-bounded LM model + broadcast scoring,
        # and span dedup's count+join — all should land near 10× base.
        "text_repetition_10x": lambda: _rep_signals(docs10),
        "text_lm_score_10x": lambda: _lm_score(docs10),
        "text_span_dedup_10x": lambda: dedup_ops.span_dedup(
            docs10, "text", "doc_id"
        ),
        # r8 late tranche at 10×: line dedup (one count-aggregate shuffle
        # + HOF scrub; replica markers make the 5-token chunks distinct
        # across replicas, so like ngram above the dup-line population
        # matches the base corpus) and the NB classifier (training counts
        # stay bucket×class-bounded; scoring is doc-keyed).
        "text_line_dedup_10x": lambda: dedup_ops.line_dedup(
            docs10.withColumn(
                "text",
                F.regexp_replace(F.col("text"), r"((?:\S+ ){4}\S+) ", "$1\n"),
            ),
            "text", "doc_id",
        ),
        "text_classifier_nb_10x": lambda: _nb_classify(docs10),
        # r9: SemDeDup at 10× embeddings. The quantizer SCALES WITH THE
        # CORPUS (k ≈ n/⟨cluster⟩ — the paper's own design point): 10×
        # vectors → 10× clusters keeps occupancy (and per-cluster pair
        # work) constant. The fixed-k misconfiguration was measured once
        # at 709 s (occupancy ×10 → pairs ×100, quadratic) — that's the
        # failure mode `max_cluster` refuses at production scale, proven
        # binding in test_skew.py. Also C4 rules and Bloom membership at
        # 10× docs.
        "sim_semdedup_10x": lambda: sim_ops.semdedup(
            emb10, 64, n_clusters=IVF_CENTROIDS * factor, iters=2,
            threshold=0.2, max_cluster=2_000,
        ),
        "text_c4_filters_10x": lambda: _c4_filters(
            docs10.withColumn(
                "text",
                F.regexp_replace(F.col("text"), _chunk_pat, "$1.\n"),
            ),
            min_words_per_line=5,
            min_kept_lines=3,
            line_drop_terms=("javascript", "spark"),
            blocklist=("lorem ipsum", "slow join"),
        ),
        "dedup_bloom_10x": lambda: dedup_ops.bloom_dedup_flags(
            docs10, docs10.filter(F.col("doc_id") % 2 == 0)
        ),
        # BPE at 10×: the replica suffix multiplies the distinct vocab by
        # 10, so the per-round pair aggregate and rewrites scale with it
        # while the corpus pass stays one aggregation.
        "text_bpe_10x": lambda: _bpe_gate_frame(spark, docs10),
    }
    # Alongside each time: the plan's shuffle count (static compile — an
    # accidental extra Exchange is the classic way a linear operator goes
    # quadratic-ish at scale) and the session's shuffle parallelism.
    scale10: dict[str, float] = {}
    shuffles: dict[str, int] = {}
    minhash_diag: dict[str, dict] = {}
    for name, build in scale10_queries.items():
        # min-of-2 (r5) — same phantom-regression rationale as the
        # extended tier; each run starts cold (per-run scope).
        best = float("inf")
        out = None
        for _ in range(2):
            with operator_cache_scope():
                start = time.perf_counter()
                out = build()
                out.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - start)
        scale10[name] = round(best, 3)
        shuffles[name] = out._jdf.queryExecution().executedPlan().toString().count("Exchange")
        if name == "dedup_minhash_lsh_10x":
            # Untimed diagnostics passes: is the max_bucket skew cap
            # binding, and how do candidate pairs grow 1×→10×? (VERDICT
            # r2: instrument before tuning the superlinear 10× growth.)
            with operator_cache_scope():
                for tier, corpus in (("base", docs), ("scale10", docs10)):
                    d: dict = {}
                    verified = dedup_ops.minhash_lsh_pairs(
                        corpus, "text", "doc_id", threshold=0.3, diagnostics=d
                    )
                    d["verified_pairs"] = verified.count()
                    minhash_diag[tier] = d

    # Skew tier (r6): the dedup caps UNDER FIRE at sf0.1 scale — half the
    # corpus collapses onto one boilerplate template (`skewed_corpus`, the
    # same construction the dedup_skew_guard gate oracle-checks). The
    # published diagnostics must show the caps ENGAGED (buckets_over_cap /
    # keys_over_cap > 0) with time still bounded — every earlier round
    # could only show them non-binding.
    from manifold_spark.operators import (
        SKEW_MAX_BUCKET,
        SKEW_MAX_DF,
        skewed_corpus,
        skewed_embeddings,
    )

    skew: dict = {}
    skew_docs = skewed_corpus(docs)
    from manifold_spark.queries import _t as _t_skew

    skew_emb = skewed_embeddings(_t_skew(spark, sf_dir, "embeddings"))
    for name, build in (
        (
            "minhash_lsh_skew",
            lambda d: dedup_ops.minhash_lsh_pairs(
                skew_docs, "text", "doc_id", threshold=0.3,
                max_bucket=SKEW_MAX_BUCKET, diagnostics=d,
            ),
        ),
        (
            "ngram_jaccard_skew",
            lambda d: dedup_ops.ngram_jaccard_pairs(
                skew_docs.withColumn("blk", F.lit(1)), "text", "doc_id", ["blk"],
                threshold=0.3, max_df=SKEW_MAX_DF, diagnostics=d,
            ),
        ),
        (
            # r6 late: the embedding cap under fire — even-id vectors
            # collapse onto one constant vector (skewed_embeddings), so
            # the RP fingerprint buckets hold ~corpus/2 entries.
            "rp_lsh_skew",
            lambda d: sim_ops.rp_lsh_near_dup(
                skew_emb, 64, threshold=0.2,
                max_bucket=SKEW_MAX_BUCKET, diagnostics=d,
            ),
        ),
    ):
        best = float("inf")
        for _ in range(2):
            with operator_cache_scope():
                start = time.perf_counter()
                build(None).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - start)
        diag: dict = {}
        with operator_cache_scope():
            build(diag).write.format("noop").mode("overwrite").save()
        skew[name] = {"sec": round(best, 3), **{k: int(v) for k, v in diag.items()}}

    # Incremental-index tier (r6): the continuous-ingestion dedup path —
    # 3 id-disjoint micro-batches through minhash_index_upsert with the
    # index persisted to parquet per trigger, exactly as a foreachBatch
    # sink would (the lazy-union replay without persistence re-executes
    # earlier batches' plans and misstates the steady-state cost). The
    # LAST batch is the per-batch cost against a grown index: batch
    # signatures + bucket probe + verify, with index reads from parquet.
    import shutil as _sh
    import tempfile as _itf

    # Append-shaped state, as a real sink: each trigger (1) persists the
    # BATCH's fingerprint index parts once, (2) pairs the batch against
    # the accumulated parquet state via `batch_index` (no signature
    # recompute), (3) the state for the next trigger is a parquet read
    # over all versions so far (an append table).
    inc_root = _itf.mkdtemp(prefix="bench-mhindex-")
    PARTS = ("entries", "shingles", "sizes")
    inc_batches = []
    index_state = None
    inc_start = time.perf_counter()
    for i in range(3):
        with operator_cache_scope():
            b = docs.filter(F.col("doc_id") % 3 == i)
            t0 = time.perf_counter()
            b_idx = dedup_ops.minhash_index(b, "text", "doc_id")
            for part in PARTS:
                b_idx[part].write.parquet(f"{inc_root}/{part}/v{i}")
            b_idx_read = {part: spark.read.parquet(f"{inc_root}/{part}/v{i}") for part in PARTS}
            pairs, _ = dedup_ops.minhash_index_upsert(
                b, index_state, "text", "doc_id", threshold=0.3, batch_index=b_idx_read
            )
            pairs.write.format("noop").mode("overwrite").save()
            index_state = {part: spark.read.parquet(f"{inc_root}/{part}/v*") for part in PARTS}
        inc_batches.append(round(time.perf_counter() - t0, 3))
    incremental = {
        "minhash_3batch_sec": round(time.perf_counter() - inc_start, 3),
        "per_batch_sec": inc_batches,
    }
    _sh.rmtree(inc_root, ignore_errors=True)

    # r9: the full incremental CURATION pass per micro-batch — seed
    # models fitted once, then 3 id-ordered batches through
    # curate_batch_incremental with parquet-versioned dedup state (the
    # curation_sink shape). Roughly flat per-batch seconds against the
    # growing hash/LSH state is the continuous-ingestion claim; the
    # model-fit cost is published separately (paid once per corpus
    # epoch, not per trigger).
    from manifold_spark.curation import curate_batch_incremental, curation_models

    cur_root = _itf.mkdtemp(prefix="bench-curinc-")
    cur_docs = docs.withColumn(
        "text",
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), _chunk_pat, "$1.\n"
        ),
    )
    n_docs_total = cur_docs.count()
    third = max(n_docs_total // 3, 1)
    cur_knobs = dict(
        min_words_per_line=5, min_kept_lines=3, require_terminal_punct=True,
        lsh_threshold=0.3, pack_budget=512,
    )
    with operator_cache_scope():
        fit_t0 = time.perf_counter()
        cur_models = curation_models(cur_docs)
        for name, frame in cur_models.items():
            frame.write.mode("overwrite").parquet(f"{cur_root}/models/{name}")
        cur_models = {
            name: spark.read.parquet(f"{cur_root}/models/{name}")
            for name in cur_models
        }
        fit_sec = round(time.perf_counter() - fit_t0, 3)

        cur_state = None
        cur_batches = []
        kept_per_batch = []
        for i in range(3):
            lo, hi = i * third, (i + 1) * third if i < 2 else (1 << 62)
            b = cur_docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            with operator_cache_scope():
                t0 = time.perf_counter()
                packed, new_state, report = curate_batch_incremental(
                    b, cur_models, cur_state, **cur_knobs
                )
                packed.write.format("noop").mode("overwrite").save()
                # persist only the batch DELTAS per trigger (the
                # curation_sink append shape) — per-trigger write cost is
                # O(batch), never O(stream history); reading the v* glob
                # also truncates lineage for the next batch
                deltas = new_state["deltas"]
                deltas["hashes"].write.mode("overwrite").parquet(
                    f"{cur_root}/v{i}/hashes"
                )
                for part, frame in deltas["minhash"].items():
                    frame.write.mode("overwrite").parquet(
                        f"{cur_root}/v{i}/mh_{part}"
                    )
                cur_batches.append(round(time.perf_counter() - t0, 3))
            kept_per_batch.append(report["packed"])
            cur_state = {
                "hashes": spark.read.parquet(f"{cur_root}/v*/hashes"),
                "minhash": {
                    part: spark.read.parquet(f"{cur_root}/v*/mh_{part}")
                    for part in PARTS
                },
            }
    incremental["curation_model_fit_sec"] = fit_sec
    incremental["curation_per_batch_sec"] = cur_batches
    incremental["curation_kept_per_batch"] = kept_per_batch

    # r11: the STORE-BACKED incremental tier — `curation_sink` against
    # the bucketed, snapshot-compacted `CurationState` parquet store
    # (the production foreachBatch path; supersedes the in-memory loop
    # above, kept one round for continuity per VERDICT r10 #2). Six
    # triggers with compact_every=3 so compaction engages mid-run, and
    # per-trigger PRUNED state-read files/bytes published — the flatness
    # evidence for the O(touched-buckets)-not-O(history) read claim
    # (r9 #2's "Done" criterion). audit=False: the production fast path
    # (no per-stage count() actions); kept counts come from the output
    # partitions afterwards.
    from manifold_spark.curation import curation_sink

    # r12 (VERDICT r11 #5): the SAME 6-trigger drive at TWO bucket
    # granularities — 16-way (hash_prefix_len=1, the r11 series row) and
    # 256-way hash prefixes with 64 doc buckets — publishing per-trigger
    # TOUCHED FRACTION (state bytes read / state bytes total) next to
    # each. This measures the SCALING.md:181-210 claim that read bytes
    # per trigger shrink toward a sliver as bucket count grows (at
    # 16-way, a corpus-uniform batch touches every bucket, so bytes
    # track state size; the bounded quantity there is file/version
    # count).
    n_store_batches = 6
    slice_w = max(n_docs_total // n_store_batches, 1)
    for label, store_knobs in (
        ("curation_store", {}),  # defaults: 16-way prefixes, 16 doc buckets
        (
            "curation_store256",
            {"hash_prefix_len": 2, "key_prefix_len": 2, "doc_buckets": 64},
        ),
    ):
        store_root = _itf.mkdtemp(prefix=f"bench-{label}-")
        state_metrics: list = []
        sink = curation_sink(
            cur_models, f"{store_root}/state", f"{store_root}/out",
            compact_every=3, state_metrics=state_metrics,
            audit=False, **store_knobs, **cur_knobs,
        )
        store_batch_secs = []
        for i in range(n_store_batches):
            lo = i * slice_w
            hi = (i + 1) * slice_w if i < n_store_batches - 1 else (1 << 62)
            b = cur_docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            t0 = time.perf_counter()
            sink(b, i)
            store_batch_secs.append(round(time.perf_counter() - t0, 3))
        store_kept = {
            int(r["batch_id"]): int(r["n"])
            for r in spark.read.parquet(f"{store_root}/out")
            .groupBy("batch_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # The 7th trigger is TINY (~1% of a batch): the bucket-
        # granularity lever only engages when the batch is SMALL against
        # the bucket count — a corpus-uniform batch comparable to the
        # bucket count touches every bucket regardless (measured above),
        # so this row is where 256-way prefixes must show the smaller
        # touched fraction the SCALING.md claim predicts.
        small = cur_docs.filter(F.col("doc_id") % 97 == 13).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            "lang",
            F.concat(F.col("text"), F.lit(" smalltrigger tail.")).alias("text"),
        )
        t0 = time.perf_counter()
        sink(small, n_store_batches)
        small_sec = round(time.perf_counter() - t0, 3)
        reads = [
            {k: int(v) for k, v in m.items() if k != "batch_id"}
            for m in sorted(state_metrics, key=lambda m: m["batch_id"])
        ]
        # touched fraction: bytes this trigger READ from state over the
        # state's total bytes (totals are post-trigger — the pruning
        # signal, not an exact pre-image ratio; trigger 0 reads nothing).
        def _frac(m):
            read_b = sum(
                v for k, v in m.items()
                if k.endswith("_bytes") and not k.startswith("state_total")
            )
            tot = m.get("state_total_bytes", 0)
            return round(read_b / tot, 4) if tot else 0.0

        small_reads = reads[-1]
        reads = reads[:-1]
        incremental[f"{label}_per_batch_sec"] = store_batch_secs
        incremental[f"{label}_kept_per_batch"] = [
            store_kept.get(i, 0) for i in range(n_store_batches)
        ]
        incremental[f"{label}_state_reads"] = reads
        incremental[f"{label}_touched_fraction"] = [_frac(m) for m in reads]
        incremental[f"{label}_small_trigger"] = {
            "sec": small_sec,
            "touched_fraction": _frac(small_reads),
            **small_reads,
        }
        _sh.rmtree(store_root, ignore_errors=True)
    _sh.rmtree(cur_root, ignore_errors=True)

    # r11: ANN-index-store tier (`operators/ann_store.AnnIndexStore`) —
    # the disk-backed IVF(-PQ) cells. Build = initialize on the first
    # third (codebooks + centroids FREEZE there — the production seed
    # recipe) + two appends (the second crosses the compact_every=2
    # boundary, so compaction mechanics are inside the measured build).
    # Probes publish the PRUNED read files/bytes next to the state
    # totals — the evidence that a probe reads O(nprobe cells) of the
    # index, never the corpus; the PQ probe's `codes_bytes` vs the raw
    # probe's `vecs_bytes` is the ~code-size compression the 100 TB ADC
    # scan banks on. (Search-result equality to the in-memory operators
    # is pinned in tests/test_ann_store.py — this tier measures cost.)
    from manifold_spark.operators.ann_store import AnnIndexStore

    ann_root = _itf.mkdtemp(prefix="bench-annstore-")
    emb_full = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n_vec = emb_full.count()
    third = max(n_vec // 3, 1)
    ann = AnnIndexStore(spark, f"{ann_root}/state", compact_every=2)
    # r12 (VERDICT r11 #7): build cost SPLIT — init (codebook/centroid
    # training + v0) vs plain append (v1) vs compacting append (v2 +
    # snapshot fold). The r11 conflated 86.3 s number hid that training
    # dominates and the steady-state unit is the per-append row.
    t0 = time.perf_counter()
    ann.initialize(
        emb_full.filter(F.col("vec_id") < third),
        n_centroids=32, use_pq=True, sample_fraction=0.2,
    )
    ann_init_sec = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    ann.append(
        emb_full.filter(
            (F.col("vec_id") >= third) & (F.col("vec_id") < 2 * third)
        )
    )
    ann_append_sec = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    ann.append(emb_full.filter(F.col("vec_id") >= 2 * third))
    ann_append_compact_sec = round(time.perf_counter() - t0, 3)
    ann.collect_read_stats = True
    ann_q = emb_full.filter(F.col("vec_id") < 16)
    t0 = time.perf_counter()
    ann.topk(ann_q, k=5, nprobe=4).write.format("noop").mode("overwrite").save()
    ann_probe_ivf_sec = round(time.perf_counter() - t0, 3)
    ann_ivf_reads = {k: int(v) for k, v in ann.read_stats.items()}
    t0 = time.perf_counter()
    ann.topk_pq(ann_q, k=5, nprobe=4).write.format("noop").mode(
        "overwrite"
    ).save()
    ann_probe_pq_sec = round(time.perf_counter() - t0, 3)
    ann_pq_reads = {k: int(v) for k, v in ann.read_stats.items()}
    # r12 (VERDICT r11 #3): corpus-scale query frame through the
    # DISTRIBUTED probe — the whole corpus queries the store with no
    # queries.collect() and no query-side broadcast (probe cells derive
    # as a column; scoring shuffle-joins on the cell id). Result ≡
    # in-memory operator pinned in tests/test_ann_store.py.
    t0 = time.perf_counter()
    ann.topk(emb_full, k=5, nprobe=4, distributed=True).write.format(
        "noop"
    ).mode("overwrite").save()
    ann_probe_dist_sec = round(time.perf_counter() - t0, 3)
    ann_dist_reads = {k: int(v) for k, v in ann.read_stats.items()}
    # r13 (VERDICT r12 #1): corpus-scale queries through the DISTRIBUTED
    # ADC probe — topk_pq(distributed=True) keeps the 64x code-size
    # advantage for the scan (codes_bytes vs the IVF row's vecs_bytes)
    # while never collecting or broadcasting the query side; the vecs
    # read alongside is the pruned exact re-rank. Result == serving path
    # == in-memory operator pinned in tests/test_ann_store.py.
    t0 = time.perf_counter()
    ann.topk_pq(emb_full, k=5, nprobe=4, distributed=True).write.format(
        "noop"
    ).mode("overwrite").save()
    ann_pq_dist_sec = round(time.perf_counter() - t0, 3)
    ann_pq_dist_reads = {k: int(v) for k, v in ann.read_stats.items()}
    ann_store_tier = {
        "n_vectors": int(n_vec),
        "n_centroids": 32,
        "nprobe": 4,
        "n_queries": 16,
        "init_sec": ann_init_sec,
        "append_sec": ann_append_sec,
        "append_with_compaction_sec": ann_append_compact_sec,
        "probe_ivf_sec": ann_probe_ivf_sec,
        "probe_ivf_reads": ann_ivf_reads,
        "probe_pq_sec": ann_probe_pq_sec,
        "probe_pq_reads": ann_pq_reads,
        "probe_distributed_corpus_scale_sec": ann_probe_dist_sec,
        "probe_distributed_n_queries": int(n_vec),
        "probe_distributed_reads": ann_dist_reads,
        "probe_pq_distributed_corpus_scale_sec": ann_pq_dist_sec,
        "probe_pq_distributed_n_queries": int(n_vec),
        "probe_pq_distributed_reads": ann_pq_dist_reads,
        **ann.state_totals(),
    }
    _sh.rmtree(ann_root, ignore_errors=True)

    # Quality tier (r6): recall of every approximate operator vs exact
    # brute-force ground truth — the gates prove hash-exactness vs an
    # oracle running the SAME approximation; this publishes how good the
    # approximation itself is (floors asserted in
    # tests/test_recall_floors.py).
    from manifold_spark.operators.recall import quality_report

    with operator_cache_scope():
        q_start = time.perf_counter()
        quality = quality_report(spark, sf_dir)
        quality["_seconds"] = round(time.perf_counter() - q_start, 1)

    # Scale-30 spot check (r6): minhash + ngram claim linear pair
    # formation; prove it at another decade-ish step. One cold run each at
    # 30× — time ratio ≈ data ratio (±30%) with healthy cap diagnostics is
    # the pass condition (recorded in SCALING.md).
    factor30 = 30
    reps30 = spark.range(factor30).select(F.col("id").alias("rep"))
    docs30 = (
        docs.crossJoin(F.broadcast(reps30))
        .select(
            (F.col("doc_id") * factor30 + F.col("rep")).alias("doc_id"),
            F.regexp_replace(
                F.col("text"), r"(\S+)",
                F.concat(F.lit(r"$1xr"), F.col("rep").cast("string")),
            ).alias("text"),
            "lang",
            "source",
        )
    )
    scale30: dict = {}
    for name, build in (
        (
            "dedup_minhash_lsh_30x",
            lambda d: dedup_ops.minhash_lsh_pairs(
                docs30, "text", "doc_id", threshold=0.3, diagnostics=d
            ),
        ),
        (
            "dedup_ngram_jaccard_30x",
            lambda d: dedup_ops.ngram_jaccard_pairs(
                docs30, "text", "doc_id", ["lang", "source"],
                threshold=0.1, max_df=NGRAM_MAX_DF, diagnostics=d,
            ),
        ),
        # r9 (VERDICT #3): the one 10× text row that ever read superlinear.
        # Same-session decomposition at 10× (min-of-2 each, cold caches):
        # full 5.9 → 53.1 s = 9.0× for 10× data — LINEAR; training owns
        # 32.9 s of it and the broadcast-model scoring 18.9 s; the model
        # table stays charset-bounded (377 rows base, 353 at 10× — the
        # replica markers don't grow it). Earlier cross-session ratios
        # (8.5×, 13.3×) were host drift, not plan shape. The 30× row
        # below keeps the claim honest at another decade step.
        ("text_lm_score_30x", None),
    ):
        if build is None:  # no diagnostics channel (lm) — single timed run
            build = lambda d: _lm_score(docs30)  # noqa: E731
            has_diag = False
        else:
            has_diag = True
        with operator_cache_scope():
            start = time.perf_counter()
            out30 = build(None)
            out30.write.format("noop").mode("overwrite").save()
            sec = round(time.perf_counter() - start, 3)
        diag30: dict = {}
        if has_diag:
            with operator_cache_scope():
                build(diag30).write.format("noop").mode("overwrite").save()
        scale30[name] = {
            "sec": sec,
            "plan_shuffles": out30._jdf.queryExecution()
            .executedPlan()
            .toString()
            .count("Exchange"),
            **{k: int(v) for k, v in diag30.items()},
        }

    # Multi-file tier: the testdata parquet is single-row-group (scans cap
    # at 1 task; `ensure_parallelism` repartitions as a crutch). Stage a
    # 32-file copy and re-run the scan-heavy queries — with ≥32 splits the
    # guard no-ops, so this measures NATIVE scan parallelism, which is what
    # a real many-file dataset gets. Compare against the same keys in
    # "queries" to see what the crutch costs/saves.
    import shutil
    import tempfile as _tf

    from manifold_spark.queries import read_events

    multi_root = _tf.mkdtemp(prefix="bench-multifile-")
    BIG = ("lineitem", "orders", "customer", "part", "supplier",
           "documents", "embeddings", "events")
    SMALL = ("region", "nation")
    for t in BIG:
        src = read_events(spark, sf_dir) if t == "events" else spark.read.parquet(
            f"{sf_dir}/{t}.parquet"
        )
        src.repartition(32).write.parquet(f"{multi_root}/{t}.parquet")
    for t in SMALL:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").coalesce(1).write.parquet(
            f"{multi_root}/{t}.parquet"
        )
    multifile: dict[str, float] = {}
    for name in HEADLINE:
        fn = queries[name]
        best = float("inf")
        with operator_cache_scope():  # spans the pair, like the headline tier
            for _ in range(2):
                start = time.perf_counter()
                fn(spark, multi_root).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - start)
        multifile[name] = round(best, 3)
    shutil.rmtree(multi_root, ignore_errors=True)

    # End-to-end ETL throughput: one full weekly pipeline run (ingest →
    # clean → staging fan-out → 3 SCD2 merges → fact load → quality gates)
    # over generated listings. The reference's implied budget is ~4,600
    # rec/s (BASELINE.md); this measures ours at a size where per-job fixed
    # costs don't fully dominate (scales super-linearly: 200k rows → ~8.5k
    # rec/s on local[32]).
    _time_run_week()

    # r9: the composed LLM-curation pass (clean → exact dedup → LSH+CC
    # fuzzy dedup → repetition+perplexity quality → temperature mixture →
    # packing) as ONE timed row, so the end-to-end pipeline — not just
    # its stages — has a perf trail. Includes the per-stage audit counts
    # (7 count() actions) deliberately: that IS the operation users run.
    from manifold_spark.curation import curate_corpus

    best = float("inf")
    for _ in range(2):
        with operator_cache_scope():
            start = time.perf_counter()
            packed, _report = curate_corpus(
                spark.read.parquet(f"{sf_dir}/documents.parquet"),
                pack_budget=512,
            )
            packed.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
    # extended tier, NOT `timings`: the headline total is the frozen
    # 17-row cross-round series and must not absorb new rows.
    extended["curation_pipeline"] = round(best, 3)

    total = round(sum(timings.values()), 3)
    # r7 (VERDICT r6 #2): calibration-normalized per-query times — each
    # raw time divided by this run's calibration_1e8_agg_sec, so the
    # number is "calibration units of work" and is comparable ACROSS
    # rounds/hosts without trusting prose about host drift. A real plan
    # regression moves the normalized number; pure host drift does not.
    # Divisor = the START snapshot: it sits at the same JVM-warmth point
    # as every previous round's single calibration, so the normalized
    # series stays comparable. The END snapshot ships alongside but is
    # NOT the divisor — measured 0.201 vs 0.064 within one run: after a
    # 30-minute suite the identical plan is janino-cached and C2-JITed,
    # so the end snapshot measures a fully-warmed JVM, a different
    # quantity. A large start-vs-end gap is the warmth signature; a
    # start-vs-start gap across rounds is host drift.
    calib_end, calib_probes_end = _calibrate()
    queries_cal = {k: round(v / calib, 2) for k, v in timings.items()}
    full = {
        "metric": "headline_query_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min_of_3": timings,
        "queries_spread": spread,
        "queries_first_run": first_run,
        "queries_cal": queries_cal,
        "value_cal": round(total / calib, 2),
        "calibration_start_sec": calib_start,
        "calibration_end_sec": calib_end,
        "calibration_probes_start": calib_probes_start,
        "calibration_probes_end": calib_probes_end,
        "calib_unstable": _calib_unstable(calib_end),
        "pipeline_run_week_stages": run_week_stages,
        "extended": extended,
        "scale10": scale10,
        "scale30": scale30,
        "skew": skew,
        "incremental": incremental,
        "ann_store": ann_store_tier,
        "quality": quality,
        "multifile": multifile,
        "minhash_diag": minhash_diag,
        "plan_shuffles": shuffles,
        "shuffle_partitions": int(cpus),
        "calibration_1e8_agg_sec": calib,
        "sf": sf,
    }
    # The driver captures a bounded TAIL of stdout and parses the last JSON
    # line it can see. The full result (extended/scale10/multifile/diag
    # tiers) exceeds that window as one line — BENCH_r02-r04 all recorded
    # `parsed: null` with the line's head cut off. So: the full dict goes
    # to a file, and stdout gets ONE compact line (headline tier only,
    # well under any capture limit) as the LAST output.
    # A committed `exclusive` section (builder's idle-host headline
    # rerun, r12) is PRESERVED across full runs — the driver's
    # possibly-contended numbers and the exclusive baseline must coexist
    # in the artifact to be comparable.
    if os.path.exists(detail_path):
        try:
            with open(detail_path) as f:
                prior_exclusive = json.load(f).get("exclusive")
            if prior_exclusive is not None:
                full["exclusive"] = prior_exclusive
        except (json.JSONDecodeError, OSError):
            pass
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1)
    print(
        json.dumps(
            {
                "metric": "headline_query_suite_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # r10: the headline tier is min-of-3 inside this one
                # invocation; `queries` IS that min (alias kept explicit)
                # and `queries_spread` is each query's (max−min)/min over
                # its 3 runs — the same-run noise band that replaces
                # cross-round host-drift prose.
                "queries_min_of_3": timings,
                "queries_spread": spread,
                # r15 (VERDICT r14 #4): run 1's cold time per query —
                # the min-of-3 reflects steady-state cache reuse inside
                # one scope; this is the first-execution cost.
                "queries_first_run": first_run,
                # normalized times (raw / calibration) — the primary
                # cross-round series; see BENCH_LOCAL.json for all tiers
                "queries_cal": queries_cal,
                "value_cal": round(total / calib, 2),
                "calibration_1e8_agg_sec": calib,
                "sf": sf,
                "detail": "BENCH_LOCAL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
