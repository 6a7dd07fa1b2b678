"""Store reads declare the schema their version's commit marker
recorded (`manifold_spark.versioned_store`), so reading a
`CurationState` horizon or an `AnnIndexStore`'s cells, tombstones and
quantizer launches no Spark job — an inferred parquet read launches one
per call — and a driver-path ANN search collects the frozen quantizer
only once. Default tier: both stores are built from a handful of rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from manifold_spark.curation import CurationState, _py_stable_long_hash
from manifold_spark.operators.ann_store import AnnIndexStore


def _jobs_launched(spark, reads, group="versioned-store-reads"):
    """(results of ``reads()``, ids of the jobs it launched), read after
    the listener bus has drained. ``group`` must be new to the session
    for the ids to be only this call's."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "store job-count pin")
    try:
        out = reads()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mh(spark, entries, shingles, sizes):
    return {
        "entries": spark.createDataFrame(entries, "doc_id long, band int, key string"),
        "shingles": spark.createDataFrame(shingles, "doc_id long, h long"),
        "sizes": spark.createDataFrame(sizes, "doc_id long, n long"),
    }


def test_curation_state_reads_launch_no_jobs(spark, tmp_path):
    """Horizon = a cells snapshot (s1), a flat delta (v2) and an
    all-empty flat delta (v3); every part's pruned read returns exactly
    the rows in the probed buckets, with no job launched."""
    st = CurationState(spark, str(tmp_path / "cs"), compact_every=2)
    st.write_delta(0, {
        "hashes": spark.createDataFrame([("0aaa",), ("5bbb",)], "_h string"),
        "minhash": _mh(
            spark, [(1, 0, "0k1"), (2, 1, "5k2")],
            [(1, 7), (1, 8), (2, 9)], [(1, 2), (2, 1)],
        ),
    })
    st.write_delta(1, {
        "hashes": spark.createDataFrame([("0ccc",)], "_h string"),
        "minhash": _mh(spark, [(3, 0, "0k3")], [(3, 7)], [(3, 1)]),
    })
    st.maybe_compact(1)
    st.write_delta(2, {
        "hashes": spark.createDataFrame([("5ddd",), ("0eee",)], "_h string"),
        "minhash": _mh(spark, [(4, 2, "5k4")], [(4, 11)], [(4, 1)]),
    })
    st.write_delta(3, {
        "hashes": spark.createDataFrame([], "_h string"),
        "minhash": _mh(spark, [], [], []),
    })
    st.begin_batch(4)
    assert st._version_names() == ["s1", "v2", "v3"]
    st.collect_read_stats = True

    doc_bucket = {d: _py_stable_long_hash(str(d)) % st.doc_buckets for d in range(1, 5)}
    buckets = sorted({doc_bucket[1], doc_bucket[4]})
    frames, jobs = _jobs_launched(spark, lambda: [
        st._read("hashes", ["0"]),
        st._read("mh_entries", ["5"]),
        st._read("mh_shingles", buckets),
        st._read("mh_sizes", buckets),
    ])
    assert jobs == [], f"store reads launched Spark jobs {jobs}"
    hashes, entries, shingles, sizes = (_rows(f) for f in frames)
    assert hashes == [("0aaa",), ("0ccc",), ("0eee",)]
    assert entries == [(2, 1, "5k2"), (4, 2, "5k4")]
    assert shingles == sorted(
        r for r in [(1, 7), (1, 8), (2, 9), (3, 7), (4, 11)]
        if doc_bucket[r[0]] in buckets
    )
    assert sizes == sorted(
        r for r in [(1, 2), (2, 1), (3, 1), (4, 1)] if doc_bucket[r[0]] in buckets
    )
    assert st.read_stats["hashes_files"] > 0


@pytest.fixture(scope="module")
def small_emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).filter(F.col("vec_id") < 96)
    return spark.createDataFrame(df.collect(), df.schema)


def test_ann_store_reads_launch_no_jobs(spark, small_emb, tmp_path):
    """A PQ store with a tombstone: pruned vecs/codes cell reads, the
    tombstone read and the quantizer read launch no job and return the
    stored rows."""
    store = AnnIndexStore(spark, str(tmp_path / "ann"))
    store.initialize(small_emb, n_centroids=8, use_pq=True)
    store.delete([3, 40])
    every = _rows(store.read_cells("vecs").select("vec_id", "centroid_id"))
    assert [r[0] for r in every] == list(range(96))
    cids = sorted({cid for _vid, cid in every})[:3]

    (vecs, codes, tombs, cents), jobs = _jobs_launched(spark, lambda: (
        store.read_cells("vecs", cids),
        store.read_cells("codes", cids),
        store._tombstones(),
        store.centroids_df(),
    ))
    assert jobs == [], f"store reads launched Spark jobs {jobs}"
    in_cells = [r for r in every if r[1] in cids]
    assert _rows(vecs.select("vec_id", "centroid_id")) == in_cells
    assert _rows(codes.select("vec_id", "centroid_id")) == in_cells
    assert _rows(tombs) == [(3, 1), (40, 1)]
    assert cents.count() == 8


def test_driver_probe_collects_frozen_quantizer_once(spark, small_emb, tmp_path):
    """The driver-path `topk` ranks probe cells against the frozen
    centroids: the first search collects them, a second search runs one
    job fewer and returns the same rows, and `initialize(overwrite=True)`
    drops the kept copy, so the next search probes the new centroids."""
    from manifold_spark.operators.similarity import topk_ivf

    queries = small_emb.filter(F.col("vec_id") < 4)
    store = AnnIndexStore(spark, str(tmp_path / "ann"))
    store.initialize(small_emb, n_centroids=8)

    def search():
        return _rows(store.topk(queries, k=3, nprobe=2, distributed=False))

    first, first_jobs = _jobs_launched(spark, search, "ann-topk-first")
    second, second_jobs = _jobs_launched(spark, search, "ann-topk-second")
    assert second == first
    assert len(second_jobs) == len(first_jobs) - 1

    cents = small_emb.orderBy(F.col("vec_id").desc()).limit(8)
    new_ids = {r["vec_id"] for r in cents.collect()}
    store.initialize(small_emb, centroids=cents, overwrite=True)
    vecs = [[float(v) for v in r["embedding"]] for r in queries.collect()]
    assert set(store._cids_for_vecs(vecs, 2)) <= new_ids
    want = topk_ivf(queries, small_emb, 64, k=3, nprobe=2, centroids=cents)
    assert search() == _rows(want)
