"""Physical-plan quality gates: these tests pin the *plan shape*, not the
results — a regression here means a 100 TB run got slower even though
sf0.001 results stay identical.
"""

import pytest
from pyspark.sql import functions as F

from manifold_spark.queries import all_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pricing_summary_pushes_filter_to_scan(spark, sf_dir):
    """The shipdate predicate must reach the parquet scan (row-group
    skipping at scale), and the projection must prune to the used columns."""
    df = all_queries()["pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]
    read_schema = plan.split("ReadSchema:")[1][:400]
    assert "l_comment" not in read_schema  # never read
    assert "l_orderkey" not in read_schema  # projection-pruned: unused key


def test_star_join_broadcasts_dims(spark, sf_dir):
    """All four dimension joins must be broadcast — the fact side must
    never shuffle for a join."""
    df = all_queries()["star_join_fact"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_aggregates_are_partial(spark, sf_dir):
    """Group-bys must map-side combine (two HashAggregate levels around
    the exchange), so the shuffle carries partial states, not raw rows."""
    df = all_queries()["pricing_summary"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2


def test_clean_chain_is_shuffle_free(spark):
    """The whole listings cleaning chain collapses into one projection —
    zero exchanges (SURVEY P1-P7 are row-local)."""
    from manifold_spark.clean import clean_listings
    from manifold_spark.schema import LISTING_SCHEMA

    df = clean_listings(spark.createDataFrame([], LISTING_SCHEMA))
    assert "Exchange" not in _plan(df)


def test_fact_load_is_broadcast_only(spark):
    """Surrogate-key resolution must broadcast every dim (facts at 100 TB
    cannot shuffle for dim lookups)."""
    import datetime as dt

    from manifold_spark.facts import load_fact_stock

    stock = spark.createDataFrame(
        [("B1", "C1", "PT", "x", "y", 1.0, 1, "2024-01-01")],
        "broker string, contract_number string, country string, county string,"
        "parish string, price double, quantity int, stock_date string",
    )
    mk = lambda cols, rows: spark.createDataFrame(rows, cols)
    dim_b = mk(
        "broker_id long, broker string, record_end_date date",
        [(1, "B1", dt.date(9999, 12, 31))],
    )
    dim_a = mk(
        "asset_id long, contract_number string, record_end_date date",
        [(1, "C1", dt.date(9999, 12, 31))],
    )
    dim_g = mk(
        "geography_id long, country string, county string, parish string, record_end_date date",
        [(1, "PT", "x", "y", dt.date(9999, 12, 31))],
    )
    fact = load_fact_stock(stock, dim_b, dim_a, dim_g)
    plan = _plan(fact)
    # every dim lookup broadcasts (static plan also shows the counts branch
    # pre-reuse, so dims appear twice + the tiny bucket-offset join)
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the id window partitions by bucket — never a global single-partition
    # sort of the fact batch
    assert "hashpartitioning(__sk_bucket" in plan


def test_fact_ids_assigned_distributed(spark, sf_dir):
    """The fact-batch id window must partition by the hash bucket — a
    no-partition row_number would funnel the whole weekly batch (~50M rows
    at reference scale) through ONE task — and the bucket-offset counts
    branch must REUSE the bucket exchange rather than recompute the
    scan-side plan."""
    from manifold_spark.scd2 import assign_surrogate_keys_distributed

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )
    out = assign_surrogate_keys_distributed(df, "sk", ["l_orderkey", "l_linenumber"])
    plan = _plan(out)
    assert "hashpartitioning(__sk_bucket" in plan
    out.collect()  # execute THIS df's QueryExecution so AQE finalizes it
    final = _plan(out)
    assert "isFinalPlan=true" in final
    assert final.count("ReusedExchange") + final.count("ReusedQueryStage") >= 1


def test_ivf_corpus_assignment_is_scan_side(spark, sf_dir):
    """Centroid assignment (the corpus-sized side of every IVF op) must
    be SCAN-SIDE at codebook scale (r14): the literal-codebook fold
    carries ZERO key exchange and zero window — the corpus never
    shuffles to learn its inverted list. (The only Exchange permitted is
    `ensure_parallelism`'s round-robin split crutch on the single-file
    test corpus — never a hash/range repartition.)"""
    from manifold_spark.operators.similarity import assign_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = emb.orderBy("vec_id").limit(16)
    out = assign_centroids(emb, cent, 64)
    plan = _plan(out)
    assert "Window" not in plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert "max_by" not in plan  # no aggregate at all — pure projection
    # the multi-rank path is scan-side too (sort+slice per row, explode)
    probes = assign_centroids(emb.filter("vec_id < 8"), cent, 64, rank_limit=4)
    pplan = _plan(probes)
    assert "Window" not in pplan
    assert "hashpartitioning" not in pplan and "rangepartitioning" not in pplan


def test_ivf_assignment_agg_fallback_shape(spark, sf_dir):
    """Codebooks past the literal budget fall back to the pre-r14
    broadcast-join + aggregate plan — which must still be a max_by HASH
    AGGREGATE (map-side combined, one pre-reduced row per vector into
    the shuffle), never a sort-window over the scored fan-out."""
    from manifold_spark.operators.similarity import _assign_centroids_agg

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = emb.orderBy("vec_id").limit(16)
    out = _assign_centroids_agg(emb, cent, 64, "vec_id", "embedding", 1)
    plan = _plan(out)
    assert "Window" not in plan
    assert "max_by" in plan or "HashAggregate" in plan
    probes = _assign_centroids_agg(
        emb.filter("vec_id < 8"), cent, 64, "vec_id", "embedding", 4
    )
    assert "Window" not in _plan(probes)


def test_ivf_assignment_scan_equals_agg(spark, sf_dir):
    """The scan-side literal-codebook path must return EXACTLY the
    aggregate path's rows (bit-identical assignment + tie-breaks) for
    rank 1 and rank k — the r14 rewrite is a plan change, never a
    result change."""
    from manifold_spark.operators.similarity import (
        _assign_centroids_agg,
        assign_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = emb.orderBy("vec_id").limit(16)
    for rank in (1, 4):
        scan = assign_centroids(emb, cent, 64, rank_limit=rank)
        agg = _assign_centroids_agg(emb, cent, 64, "vec_id", "embedding", rank)
        assert sorted(map(tuple, scan.select("vec_id", "centroid_id").collect())) == (
            sorted(map(tuple, agg.select("vec_id", "centroid_id").collect()))
        )


def test_dedup_exact_single_shuffle(spark, sf_dir):
    """Exact dedup is one hash-aggregate shuffle, nothing more."""
    df = all_queries()["dedup_exact"](spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange") == 1


def test_ensure_parallelism_file_heuristic(spark, sf_dir, tmp_path):
    """The parallelism guard must fire on a small single-file scan (the
    compute-bound-operator case), no-op on a many-file input (repartition
    would inject a pointless full shuffle), and no-op on non-file plans —
    all WITHOUT compiling a physical plan via df.rdd."""
    from manifold_spark.plans.parallelism import ensure_parallelism, estimated_splits

    single = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert estimated_splits(single) == 1
    assert "Repartition" in _optimized(ensure_parallelism(single))

    many_path = str(tmp_path / "many")
    single.repartition(64).write.parquet(many_path)
    many = spark.read.parquet(many_path)
    assert estimated_splits(many) >= 64
    assert "Repartition" not in _optimized(ensure_parallelism(many))

    inmem = spark.range(10)
    assert estimated_splits(inmem) is None
    assert ensure_parallelism(inmem) is inmem


def test_split_size_reads_byte_suffixes(spark, sf_dir, tmp_path):
    """A suffixed ``maxPartitionBytes`` ("64m") is 64 MiB, not 64 bytes:
    one split for a small file, so both guards can still fire, and
    `scoped_scan_split_size` restores the raw string on exit."""
    import shutil

    from manifold_spark.plans.parallelism import estimated_splits, scoped_scan_split_size

    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    shutil.copy(f"{sf_dir}/lineitem.parquet", tmp_path / "part-0.parquet")
    spark.conf.set(key, "64m")
    try:
        assert estimated_splits(spark.read.parquet(str(tmp_path))) == 1
        with scoped_scan_split_size(spark, str(tmp_path)):
            assert spark.conf.get(key) != "64m"  # one split: the guard fires
        assert spark.conf.get(key) == "64m"
    finally:
        spark.conf.set(key, prior)


def test_scan_prunes_columns_for_projection(spark, sf_dir):
    """A 2-column projection must read 2 columns, not 11."""
    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_orderkey", "l_quantity")
    plan = _plan(l)
    schema = plan.split("ReadSchema:")[1]
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_extendedprice" not in schema


def test_ngram_df_cap_is_broadcast_stoplist(spark, sf_dir):
    """The df cap must apply as a broadcast anti-join against the tiny
    over-cap stop-list (r6), NOT a count window that sorts every exploded
    shingle row — and the window fallback must stay selectable."""
    from manifold_spark.operators.dedup import ngram_jaccard_pairs, release_shingle_caches
    from manifold_spark.queries import _t

    docs = _t(spark, sf_dir, "documents")
    capped = ngram_jaccard_pairs(
        docs, "text", "doc_id", ["lang", "source"], threshold=0.1, max_df=50
    )
    plan = _plan(capped)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Window" not in plan
    window = ngram_jaccard_pairs(
        docs, "text", "doc_id", ["lang", "source"], threshold=0.1, max_df=50,
        df_cap_strategy="window",
    )
    assert "Window" in _plan(window)
    release_shingle_caches()


def test_span_dedup_plan_is_pair_free(spark, sf_dir):
    """r7: the span-dedup plan must never form pairs or window-sort —
    no SortMergeJoin, no Window; duplicated-hash detection is a
    map-side-combined HashAggregate and the dup set / per-doc starts
    come back via joins (broadcast at this scale). The scrub is
    higher-order-function projection work, not a token-level shuffle."""
    from manifold_spark.operators.dedup import release_shingle_caches, span_dedup
    from manifold_spark.queries import _t

    out = span_dedup(_t(spark, sf_dir, "documents"), "text", "doc_id", n=12)
    plan = _plan(out)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # duplicated-hash detection is partial-aggregated before its shuffle
    assert "partial_count" in plan
    release_shingle_caches()


def test_topk_ivf_broadcast_queries_knob(spark, sf_dir):
    """`topk_ivf(broadcast_queries=False)` (the store's distributed
    probe, r12) must drop the query-side broadcast HINT: with the
    size-based auto-broadcast disabled, the default plan broadcasts the
    probes subtree and the distributed plan joins without ANY broadcast
    of it — both sides meet in a shuffle keyed by the probed cell id
    (at production scale the hinted broadcast of a corpus-sized query
    frame would be the scale-killer; size-based selection may still
    broadcast a genuinely small side, which is why the pin pins the
    HINT, not Catalyst's size choice)."""
    from manifold_spark.operators.similarity import topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = _plan(topk_ivf(emb, emb, 64, k=3, nprobe=2))
        unhinted = _plan(
            topk_ivf(emb, emb, 64, k=3, nprobe=2, broadcast_queries=False)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the hinted form broadcasts the scored-probes subtree for the cell
    # join; the centroid assignment's crossJoin keeps its own broadcast
    # in BOTH plans, so compare counts rather than absence.
    assert hinted.count("BroadcastExchange") > unhinted.count(
        "BroadcastExchange"
    )
    assert "SortMergeJoin" in unhinted or "ShuffledHashJoin" in unhinted


def test_topk_ivf_pq_broadcast_queries_knob(spark, sf_dir):
    """`topk_ivf_pq(broadcast_queries=False)` (the store's distributed
    ADC probe, r13) must carry NO query-side broadcast HINT anywhere —
    not on the probe relation entering the ADC scan, not on the
    candidate set or the query vectors entering the exact re-rank. With
    size-based auto-broadcast disabled, only the structural broadcasts
    survive (the centroid-assignment crossJoin and the residual-aux /
    tombstone relations — all codebook-scale), and the ADC scan plus
    re-rank meet in shuffles; the hinted serving plan broadcasts the
    query side at every one of those three spots, so pin the count
    gap. Same contract (pin the HINT, not Catalyst's size choice) as
    `test_topk_ivf_broadcast_queries_knob`."""
    from manifold_spark.operators.dedup import release_shingle_caches
    from manifold_spark.operators.pq import pq_codebooks, topk_ivf_pq

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cbs = pq_codebooks(emb, 64, iters=0)  # seed codebooks: plan-shape only
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hinted = _plan(topk_ivf_pq(emb, emb, 64, k=3, nprobe=2, codebooks=cbs))
        unhinted = _plan(
            topk_ivf_pq(
                emb, emb, 64, k=3, nprobe=2, codebooks=cbs,
                broadcast_queries=False,
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        release_shingle_caches()
    assert hinted.count("BroadcastExchange") > unhinted.count(
        "BroadcastExchange"
    )
    assert "SortMergeJoin" in unhinted or "ShuffledHashJoin" in unhinted


def test_stage_boundary_local_master_keeps_one_replica(spark, sf_dir):
    """Under a local master (the fixture's and the benchmark's
    ``local[N]``) `stage_boundary` makes the plain `localCheckpoint`
    call: one replica, since there is no peer to copy to. The cut
    truncates lineage (the optimized plan is the checkpoint scan, with
    no Filter above it) and keeps the rows."""
    from manifold_spark.plans.boundary import _release, stage_boundary

    assert spark.sparkContext._jsc.isLocal()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter("doc_id % 2 = 0")
    want = sorted(map(repr, docs.collect()))
    bounded = stage_boundary(docs)
    try:
        rdd = bounded._jdf.queryExecution().analyzed().rdd()
        assert rdd.getStorageLevel().replication() == 1
        plan = bounded._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan and "Filter" not in plan, plan
        assert sorted(map(repr, bounded.collect())) == want
    finally:
        _release(bounded)


def test_stage_boundary_cluster_level_is_default_with_two_replicas(spark):
    """Off a local master `stage_boundary` passes `_REPLICATED`, which
    must stay Spark's default local-checkpoint level with a second
    replica: only the replica count may differ from what a local
    master gets. (The slow `tests/test_boundary_fault.py` drives that
    path on a two-executor cluster.)"""
    from manifold_spark.plans.boundary import _REPLICATED

    def fields(level):
        return (
            level.useDisk(), level.useMemory(), level.useOffHeap(),
            level.deserialized(), level.replication(),
        )

    default = spark._jvm.org.apache.spark.rdd.LocalRDDCheckpointData.DEFAULT_STORAGE_LEVEL()
    replicated = spark.sparkContext._getJavaStorageLevel(_REPLICATED)
    assert fields(replicated) == fields(default)[:4] + (2,)
