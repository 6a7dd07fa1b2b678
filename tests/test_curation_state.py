"""CurationState — the parquet-backed streaming dedup-state store
(manifold_spark/curation.py). These are the crash-path and contract pins
VERDICT r10 #1 / ADVICE r10 demanded:

- the driver-side hash twin tracks the column expression exactly;
- `minhash_index_probe` ≡ `minhash_index_upsert` pair sets, including
  with an ENGAGING skew cap;
- compaction survives EMPTY deltas (fully-duplicate micro-batch writes a
  version with no parquet files — ADVICE r10 high, reproduced crash);
- compaction re-derives partition values from the data (all-numeric
  'pfx' buckets round-tripped through partition-type inference came back
  as ints and broke pruned probes — ADVICE r10 medium);
- a ≥6-trigger sink run crosses compaction, bounds the read horizon at
  compact_every+1 versions, GCs superseded dirs, and still keeps exactly
  the one-shot document set;
- trigger-retry idempotence at three crash points (partial delta,
  partial snapshot, committed-snapshot-then-crash);
- the CAP CAVEAT characterization (curation.py module header): an
  engaging `lsh_max_bucket` breaks one-shot ≡ split invariance at the
  boundary batch, and raising the cap restores it.

The cap-lifted half of the CAP CAVEAT runs in the default tier (a
12-doc, two-trigger store drive, ~20 s); every other test here is
marked slow (`-m slow`).
"""


from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from manifold_spark.curation import (
    CurationState,
    _py_stable_long_hash,
    curate_batch_incremental,
    curation_models,
    curation_sink,
)
from manifold_spark.functions.hashing import stable_long_hash
from manifold_spark.operators import dedup
from manifold_spark.operators.dedup import operator_cache_scope


# ---------------------------------------------------------------------------
# synthetic corpora (createDataFrame — full control over dup structure)
# ---------------------------------------------------------------------------

_BOILER = (
    "the quarterly report shows steady growth across all regions and "
    "the board expects continued expansion of the core business next "
    "year while margins remain stable and customers renew contracts"
)


def _unique_text(k: int) -> str:
    return (
        f"document number {k} discusses topic {k * 7 % 31} in detail. "
        f"it mentions item {k * 13 % 47} and concept {k * 5 % 23}. "
        f"the analysis concludes with recommendation {k % 11}."
    )


def _near_dup_text(k: int) -> str:
    """Heavy shared boilerplate + tiny unique tail → high Jaccard, lands
    in shared LSH buckets (the skew-cap adversary)."""
    return f"{_BOILER} closing remark {k}."


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def _six_batches(spark):
    """6 id-monotone batches of 20 docs. Batch 3 is a FULL exact
    duplicate of batch 0's texts (new ids) — its state delta is empty,
    which must not break a compaction window spanning it. Batches also
    carry near-dups of earlier batches (cross-batch LSH work)."""
    batches = []
    for b in range(6):
        rows = []
        for j in range(20):
            k = b * 20 + j
            doc_id = 1000 * b + j
            if b == 3:
                text = _unique_text(j)  # exact dup of batch 0 content
            elif b >= 1 and j < 3:
                # distinct tail per batch: NOT exact dups, so the
                # cross-batch drops must come through the store's LSH
                # probe (read_entries + read_doc_state with real hits)
                text = _near_dup_text(b * 10 + j)
            else:
                text = _unique_text(k)
            rows.append((doc_id, "en" if k % 3 else "de", text))
        batches.append(_mk_docs(spark, rows))
    return batches


_KNOBS = dict(
    min_words_per_line=1, min_kept_lines=1, require_terminal_punct=False,
    lsh_threshold=0.3, pack_budget=128,
)


def _seed_models(spark, batches):
    corpus = batches[0]
    for b in batches[1:]:
        corpus = corpus.unionByName(b)
    return curation_models(corpus), corpus


def _committed_dirs(state_dir):
    out = []
    if os.path.isdir(state_dir):
        for name in sorted(os.listdir(state_dir)):
            if os.path.exists(os.path.join(state_dir, name, "_COMMIT")):
                out.append(name)
    return out


def _state_content(spark, state_dir):
    """Logical state content (hash set, entry set, size set) across all
    COMMITTED versions, newest-first semantics not needed (state rows are
    append-only facts). Used to compare crash-retry vs clean runs."""
    hashes, entries, sizes = set(), set(), set()
    st = CurationState(spark, state_dir)
    snaps, deltas = st._scan()
    base = snaps[-1] if snaps else None
    names = ([f"s{base}"] if base is not None else []) + [
        f"v{d}" for d in deltas if base is None or d > base
    ]
    for v in names:
        for part, cols, acc in (
            ("hashes", ["_h"], hashes),
            ("mh_entries", ["doc_id", "band", "key"], entries),
            ("mh_sizes", ["doc_id", "n"], sizes),
        ):
            p = os.path.join(state_dir, v, part)
            if os.path.isdir(p) and CurationState._has_parquet(p):
                for r in spark.read.parquet(p).select(*cols).collect():
                    acc.add(tuple(r))
    return hashes, entries, sizes


# ---------------------------------------------------------------------------
# 1. driver-side hash twin
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_py_hash_twin_matches_column(spark):
    """`_py_stable_long_hash` must equal `stable_long_hash` exactly — the
    store prunes shingle-state partitions with the PYTHON twin, so a
    divergence silently reads the wrong buckets and drops fuzzy pairs."""
    values = ["", "a", "hello world", "ümlaut Ünicode ✓", "0", "05",
              "doc-123", "x" * 300, "линия", "日本語テキスト"]
    seeds = [0, 1, 42]
    df = spark.createDataFrame([(v,) for v in values], "v string")
    for seed in seeds:
        got = {
            r["v"]: r["h"]
            for r in df.select(
                "v", stable_long_hash(F.col("v"), seed=seed).alias("h")
            ).collect()
        }
        for v in values:
            assert got[v] == _py_stable_long_hash(v, seed=seed), (v, seed)


# ---------------------------------------------------------------------------
# 2. probe ≡ upsert (default cap AND engaging cap)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_probe_matches_upsert_pairs(spark, tmp_path):
    """`minhash_index_probe` against a CurationState store must emit the
    exact pair set of `minhash_index_upsert` over in-memory state — at a
    non-binding cap and at a cap the adversarial bucket ENGAGES."""
    b1 = _mk_docs(
        spark,
        [(i, "en", _near_dup_text(i)) for i in range(8)]
        + [(i, "en", _unique_text(i)) for i in range(8, 14)],
    )
    b2 = _mk_docs(
        spark,
        [(100 + i, "en", _near_dup_text(50 + i)) for i in range(8)]
        + [(100 + i, "en", _unique_text(100 + i)) for i in range(8, 14)],
    )
    empty_h = spark.createDataFrame([], "_h string")

    with operator_cache_scope():
        idx1 = dedup.minhash_index(b1, "text", "doc_id")
        store = CurationState(spark, str(tmp_path / "probe-state"))
        store.write_delta(0, {"hashes": empty_h, "minhash": idx1})

        results = {}
        for cap in (5, 10_000):
            idx2 = dedup.minhash_index(b2, "text", "doc_id")
            idx2["entries"] = dedup._persist_tracked(idx2["entries"])
            idx2["sizes"] = dedup._persist_tracked(idx2["sizes"])
            store2 = CurationState(spark, str(tmp_path / "probe-state"))
            store2.begin_batch(1)
            probe = dedup.minhash_index_probe(
                idx2, store2.read_entries, store2.read_doc_state,
                threshold=0.3, max_bucket=cap,
            )
            up, _ = dedup.minhash_index_upsert(
                b2, idx1, "text", "doc_id",
                threshold=0.3, max_bucket=cap, batch_index=idx2,
            )
            probe_set = {(r["id_a"], r["id_b"]) for r in probe.collect()}
            up_set = {(r["id_a"], r["id_b"]) for r in up.collect()}
            assert probe_set == up_set, f"cap={cap}"
            results[cap] = probe_set

    # the small cap must actually ENGAGE (the boilerplate family's
    # buckets hold 16 entries > 5) — otherwise the "capped" pin is vacuous
    assert results[5] < results[10_000]
    # and the uncapped run must pair across batches at all
    assert any(a < 100 <= b for a, b in results[10_000])


@pytest.mark.slow
def test_delta_layout_flat_and_snapshot_fanout(spark, tmp_path):
    """r13 layout (VERDICT r12 #3): a DELTA is flat — ONE file per
    relation with the bucket id as a sorted data column, file count
    independent of the bucket granularity — while the SNAPSHOT fans out
    into bucket dirs at compaction; pruned reads are correct across the
    mixed horizon (flat delta + partitioned snapshot)."""
    state_dir = str(tmp_path / "flat")
    st = CurationState(
        spark, state_dir, hash_prefix_len=2, compact_every=3, doc_buckets=256
    )
    empty_mh = {
        "entries": spark.createDataFrame([], "doc_id long, band int, key string"),
        "shingles": spark.createDataFrame([], "doc_id long, h long"),
        "sizes": spark.createDataFrame([], "doc_id long, n long"),
    }
    st.write_delta(0, {
        "hashes": spark.createDataFrame(
            [(f"{i:02x}{'a' * 10}",) for i in range(128)], "_h string"
        ),
        "minhash": empty_mh,
    })

    # flat: no bucket dirs, exactly one parquet file —
    # even though 128 distinct pfx buckets (and 256 doc buckets) exist.
    hdir = os.path.join(state_dir, "v0", "hashes")
    assert not any("=" in n for n in os.listdir(hdir)), os.listdir(hdir)
    pq_files = [n for n in os.listdir(hdir) if n.endswith(".parquet")]
    assert len(pq_files) == 1, pq_files

    st.write_delta(1, {
        "hashes": spark.createDataFrame([("01zzz",), ("40zzz",)], "_h string"),
        "minhash": empty_mh,
    })

    # pruned read across two flat deltas: only the probed buckets return
    probe = CurationState(spark, state_dir, hash_prefix_len=2)
    probe.begin_batch(2)
    got = {
        r["_h"]
        for r in probe.read_hashes(
            spark.createDataFrame([("01xxx",), ("40xxx",)], "_h string")
        ).collect()
    }
    assert got == {"01" + "a" * 10, "40" + "a" * 10, "01zzz", "40zzz"}, got

    # compaction fans out into bucket dirs (the snapshot IS partitioned)
    st.write_delta(2, {
        "hashes": spark.createDataFrame([("02yyy",)], "_h string"),
        "minhash": empty_mh,
    })
    st.maybe_compact(2)
    snap = os.path.join(state_dir, "s2", "hashes")
    assert any(n.startswith("pfx=") for n in os.listdir(snap)), os.listdir(snap)

    # mixed horizon: partitioned snapshot + a new flat delta, one probe
    st2 = CurationState(spark, state_dir, hash_prefix_len=2)
    st2.begin_batch(3)
    st2.write_delta(3, {
        "hashes": spark.createDataFrame([("01new",)], "_h string"),
        "minhash": empty_mh,
    })
    probe2 = CurationState(spark, state_dir, hash_prefix_len=2)
    probe2.begin_batch(4)
    probe2.collect_read_stats = True
    got2 = {
        r["_h"]
        for r in probe2.read_hashes(
            spark.createDataFrame([("01xxx",),], "_h string")
        ).collect()
    }
    assert got2 == {"01" + "a" * 10, "01zzz", "01new"}, got2
    # the dir prune engaged on the snapshot side: the probe touched fewer
    # bytes than the total committed state
    totals = st2.state_totals()
    assert 0 < probe2.read_stats["hashes_bytes"] < totals["state_total_bytes"]


@pytest.mark.slow
def test_legacy_empty_partitioned_delta_does_not_break_reads(spark, tmp_path):
    """Review r13: a PRE-r13 empty delta (the old partitionBy path wrote
    only _SUCCESS for an all-duplicate trigger — no '=' subdirs, no
    parquet) must not be classified as a flat r13 delta: handing the
    bare dir to spark.read.parquet dies with UNABLE_TO_INFER_SCHEMA.
    The parquet guard skips it, exactly as the old leaf-dir walk did."""
    state_dir = str(tmp_path / "legacy-empty")
    st = CurationState(spark, state_dir)
    empty_mh = {
        "entries": spark.createDataFrame([], "doc_id long, band int, key string"),
        "shingles": spark.createDataFrame([], "doc_id long, h long"),
        "sizes": spark.createDataFrame([], "doc_id long, n long"),
    }
    st.write_delta(0, {
        "hashes": spark.createDataFrame([("0abc",), ("5def",)], "_h string"),
        "minhash": empty_mh,
    })
    # fake the legacy shape: committed version whose part dirs hold only
    # the Spark _SUCCESS marker (no parquet, no partition subdirs)
    for part in ("hashes", "mh_entries", "mh_shingles", "mh_sizes"):
        d = os.path.join(state_dir, "v1", part)
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    open(os.path.join(state_dir, "v1", "_COMMIT"), "w").close()

    probe = CurationState(spark, state_dir)
    probe.begin_batch(2)
    got = probe.read_hashes(spark.createDataFrame([("0xyz",), ("5xyz",)], "_h string"))
    assert {r["_h"] for r in got.collect()} == {"0abc", "5def"}
    # must simply not raise (ADVICE r13: the former `is None or True`
    # assertion was a tautology — the call itself is the check)
    probe.read_entries(
        spark.createDataFrame([(1, 0, "0key")], "doc_id long, band int, key string")
    )
    sh, sz = probe.read_doc_state([1, 2])
    # v0's minhash parts are empty but schema-ful; legacy v1 is skipped
    if sh is not None:
        assert sh.count() == 0 and sz.count() == 0


# ---------------------------------------------------------------------------
# 3. empty-delta compaction (ADVICE r10 high)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_store_empty_delta_compaction(spark, tmp_path):
    """A fully-duplicate micro-batch writes a committed version whose
    part dirs hold only _SUCCESS. Compaction spanning it previously died
    with UNABLE_TO_INFER_SCHEMA; it must skip the parquet-less dirs and
    fold the rest."""
    state_dir = str(tmp_path / "empty-delta")
    st = CurationState(spark, state_dir, compact_every=2)

    def mk_mh(entries, shingles, sizes):
        return {
            "entries": spark.createDataFrame(
                entries, "doc_id long, band int, key string"
            ),
            "shingles": spark.createDataFrame(shingles, "doc_id long, h long"),
            "sizes": spark.createDataFrame(sizes, "doc_id long, n long"),
        }

    st.write_delta(0, {
        "hashes": spark.createDataFrame([("abc123",)], "_h string"),
        "minhash": mk_mh([(1, 0, "k1")], [(1, 7)], [(1, 3)]),
    })
    # batch 1: everything was a duplicate — all delta frames EMPTY
    st.write_delta(1, {
        "hashes": spark.createDataFrame([], "_h string"),
        "minhash": mk_mh([], [], []),
    })
    st.maybe_compact(1)  # window spans the empty v1 — must not raise

    assert "s1" in _committed_dirs(state_dir)
    snap_hashes = spark.read.parquet(
        os.path.join(state_dir, "s1", "hashes")
    )
    assert {r["_h"] for r in snap_hashes.collect()} == {"abc123"}


# ---------------------------------------------------------------------------
# 4. compaction re-derives partition values (ADVICE r10 medium)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_compaction_rederives_numeric_prefix_partitions(spark, tmp_path):
    """hash_prefix_len=2 with all-numeric prefixes ('05', '12'): the
    read-back partition value type-infers to int, so a compaction that
    trusted it would rewrite pfx=5 and pruned probes of pfx=05 would
    MISS state (duplicates pass dedup). The snapshot must carry the
    string-derived dir names."""
    state_dir = str(tmp_path / "numeric-pfx")
    st = CurationState(
        spark, state_dir, hash_prefix_len=2, compact_every=2
    )
    empty_mh = {
        "entries": spark.createDataFrame([], "doc_id long, band int, key string"),
        "shingles": spark.createDataFrame([], "doc_id long, h long"),
        "sizes": spark.createDataFrame([], "doc_id long, n long"),
    }
    st.write_delta(0, {
        "hashes": spark.createDataFrame([("05aaa",), ("12bbb",)], "_h string"),
        "minhash": empty_mh,
    })
    st.write_delta(1, {
        "hashes": spark.createDataFrame([("05ccc",)], "_h string"),
        "minhash": empty_mh,
    })
    st.maybe_compact(1)

    snap = os.path.join(state_dir, "s1", "hashes")
    dirs = {d for d in os.listdir(snap) if d.startswith("pfx=")}
    assert dirs == {"pfx=05", "pfx=12"}, dirs

    # and the pruned probe path finds all three hashes post-compaction
    probe = CurationState(spark, state_dir, hash_prefix_len=2)
    probe.begin_batch(2)
    batch_hashed = spark.createDataFrame(
        [("05zzz",), ("12zzz",)], "_h string"
    )
    prev = probe.read_hashes(batch_hashed)
    assert prev is not None
    assert {r["_h"] for r in prev.collect()} == {"05aaa", "05ccc", "12bbb"}


# ---------------------------------------------------------------------------
# 5. six triggers: compaction + GC + bounded read horizon + parity
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_sink_six_batches_compaction_gc_matches_oneshot(spark, tmp_path):
    """Six sink triggers with compact_every=2: compaction engages ≥2×,
    the read horizon never exceeds compact_every+1 committed versions,
    superseded dirs are GC'd by the following trigger, the fully-
    duplicate batch 3 (empty delta) sits inside a compaction window, and
    the streamed union keeps EXACTLY the one-shot document set."""
    batches = _six_batches(spark)
    with operator_cache_scope():
        models, corpus = _seed_models(spark, batches)

        one, _, _ = curate_batch_incremental(corpus, models, None, **_KNOBS)
        one_ids = {r["doc_id"] for r in one.select("doc_id").collect()}

        state_dir = str(tmp_path / "state6")
        out_path = str(tmp_path / "out6")
        sink = curation_sink(
            models, state_dir, out_path, compact_every=2, **_KNOBS
        )
        horizons = []
        for i, b in enumerate(batches):
            probe = CurationState(spark, str(state_dir), compact_every=2)
            snaps, deltas = probe._scan()
            base = max((s for s in snaps if s < i), default=None)
            lo = base if base is not None else -1
            horizons.append(
                (1 if base is not None else 0)
                + len([d for d in deltas if lo < d < i])
            )
            sink(b, i)

        # read horizon bounded: never more than compact_every deltas + 1 snap
        assert max(horizons) <= 2 + 1, horizons

        dirs = _committed_dirs(state_dir)
        # compaction engaged (snapshots exist) and early deltas were GC'd
        assert any(d.startswith("s") for d in dirs), dirs
        assert "v0" not in dirs and "v1" not in dirs, dirs

        streamed = spark.read.parquet(out_path)
        streamed_ids = {r["doc_id"] for r in streamed.select("doc_id").collect()}
        assert streamed_ids == one_ids
        assert len(streamed_ids) > 0
        # batch 3 was a full exact duplicate of batch 0's texts
        assert not any(3000 <= i < 4000 for i in streamed_ids)


# ---------------------------------------------------------------------------
# 6. trigger-retry idempotence at three crash points
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_sink_trigger_retry_idempotent(spark, tmp_path):
    """foreachBatch redelivery: after (a) a crash that left the delta
    dir partial (no _COMMIT), (b) a crash that left the SNAPSHOT partial,
    (c) a crash after the snapshot committed but before the trigger
    ended — re-invoking sink(batch, same_id) and continuing the stream
    must converge to the clean run's output ids AND state content."""
    batches = _six_batches(spark)
    with operator_cache_scope():
        models, _ = _seed_models(spark, batches)

        def run(state_dir, out_path, crash_points):
            sink = curation_sink(
                models, state_dir, out_path, compact_every=2, **_KNOBS
            )
            for i, b in enumerate(batches):
                mode = crash_points.get(i)
                if mode is not None:
                    orig_wd = CurationState.write_delta
                    orig_mc = CurationState.maybe_compact
                    try:
                        if mode == "partial_delta":
                            def wd(self, bid, deltas):
                                orig_wd(self, bid, deltas)
                                os.remove(os.path.join(
                                    self.state_dir, f"v{bid}", "_COMMIT"
                                ))
                                raise RuntimeError("crash pre-commit")
                            CurationState.write_delta = wd
                        elif mode == "partial_snapshot":
                            def mc(self, bid):
                                orig_mc(self, bid)
                                marker = os.path.join(
                                    self.state_dir, f"s{bid}", "_COMMIT"
                                )
                                assert os.path.exists(marker), (
                                    "crash point requires compaction to run"
                                )
                                os.remove(marker)
                                raise RuntimeError("crash mid-snapshot")
                            CurationState.maybe_compact = mc
                        elif mode == "post_compact":
                            def mc2(self, bid):
                                orig_mc(self, bid)
                                assert os.path.exists(os.path.join(
                                    self.state_dir, f"s{bid}", "_COMMIT"
                                ))
                                raise RuntimeError("crash post-commit")
                            CurationState.maybe_compact = mc2
                        with pytest.raises(RuntimeError):
                            sink(b, i)
                    finally:
                        CurationState.write_delta = orig_wd
                        CurationState.maybe_compact = orig_mc
                sink(b, i)  # the redelivered trigger
            return (
                {
                    r["doc_id"]
                    for r in spark.read.parquet(out_path)
                    .select("doc_id")
                    .collect()
                },
                _state_content(spark, state_dir),
            )

        clean_ids, clean_state = run(
            str(tmp_path / "clean-state"), str(tmp_path / "clean-out"), {}
        )
        # compact_every=2 → compaction fires at batches 1, 3, 5
        crash_ids, crash_state = run(
            str(tmp_path / "crash-state"),
            str(tmp_path / "crash-out"),
            {1: "partial_delta", 3: "partial_snapshot", 5: "post_compact"},
        )

    assert crash_ids == clean_ids
    assert len(clean_ids) > 0
    assert crash_state == clean_state


# ---------------------------------------------------------------------------
# 7. CAP CAVEAT characterization (VERDICT r10 #6)
# ---------------------------------------------------------------------------


def _cap_split_kept(spark, tmp_path, cap):
    """Kept ids of one-shot vs a two-trigger split at LSH cap ``cap``:
    8 near-identical docs (one LSH bucket family) + 4 unique docs, split
    4 + 4 family docs. The split chains through a `CurationState` store
    (begin_batch, curate, write_delta), the path `curation_sink` runs.
    audit=False: only the kept ids are compared, so the per-stage
    count() jobs would be pure test time."""
    rows = [(i, "en", _near_dup_text(i)) for i in range(8)] + [
        (100 + i, "en", _unique_text(i)) for i in range(4)
    ]
    docs = _mk_docs(spark, rows)
    first = _mk_docs(spark, rows[:4] + rows[8:10])   # ids 0-3, 100-101
    second = _mk_docs(spark, rows[4:8] + rows[10:])  # ids 4-7, 102-103
    knobs = dict(
        min_words_per_line=1, min_kept_lines=1, require_terminal_punct=False,
        lsh_threshold=0.3, pack_budget=128, max_ppl_bucket=3,
        require_repetition_pass=False, audit=False, lsh_max_bucket=cap,
    )
    store = CurationState(spark, str(tmp_path / "cap-state"))
    with operator_cache_scope():
        models = curation_models(
            docs, temperature=1.0, mixture_target_fraction=1.0
        )
        one, _, _ = curate_batch_incremental(docs, models, None, **knobs)
        one_ids = {r["doc_id"] for r in one.select("doc_id").collect()}
        split_ids: set = set()
        for batch_id, batch in enumerate((first, second)):
            store.begin_batch(batch_id)
            packed, deltas, _ = curate_batch_incremental(
                batch, models, store, **knobs
            )
            split_ids |= {r["doc_id"] for r in packed.select("doc_id").collect()}
            store.write_delta(batch_id, deltas)
    return one_ids, split_ids


@pytest.mark.slow
def test_cap_engaged_split_diverges(spark, tmp_path):
    """The documented CAP CAVEAT, as a pinned contract: when the LSH
    skew cap engages AT a batch boundary, one-shot ≠ split. At cap=4 the
    8-doc bucket is over-cap one-shot (no pairs, all kept), but the
    split's first 4 entries are in-cap, so they pair and drop."""
    one_ids, split_ids = _cap_split_kept(spark, tmp_path, 4)
    assert one_ids != split_ids
    assert {0, 1, 2, 3, 4, 5, 6, 7} <= one_ids  # over-cap: none dropped


def test_cap_lifted_split_invariance(spark, tmp_path):
    """The other half of the CAP CAVEAT: with `lsh_max_bucket` lifted,
    one-shot ≡ split through the store exactly, and the family collapses
    to id 0 (the second trigger's family docs pair with the stored first
    trigger's: pruned entry reads, stored shingles in the verify).
    Default tier: the tier-1 drive of the store-backed incremental
    path."""
    one_ids, split_ids = _cap_split_kept(spark, tmp_path, 10_000)
    assert one_ids == split_ids
    assert 0 in one_ids
    assert not ({1, 2, 3, 4, 5, 6, 7} & one_ids)


@pytest.mark.slow
def test_crashed_partial_dirs_swept_below_trigger(spark, tmp_path):
    """r12 `AnnIndexStore` parity (shared `sweep_uncommitted`): an
    uncommitted partial version dir BELOW the current trigger can never
    be retried (only the current trigger replays) and must be swept at
    begin_batch instead of leaking disk forever; one at/above the
    trigger id is the current retry's own dir and must survive."""
    state_dir = str(tmp_path / "crash")
    for name in ("v1", "s2", "v5"):
        os.makedirs(os.path.join(state_dir, name, "hashes"))
        with open(
            os.path.join(state_dir, name, "hashes", "junk.parquet"), "w"
        ) as f:
            f.write("not parquet")

    store = CurationState(spark, state_dir)
    store.begin_batch(5)
    assert not os.path.isdir(os.path.join(state_dir, "v1"))
    assert not os.path.isdir(os.path.join(state_dir, "s2"))
    assert os.path.isdir(os.path.join(state_dir, "v5")), (
        "the current trigger's own crashed dir must be left for its retry"
    )
