"""Structured Streaming: the hourly rollup must produce the same buckets
as its batch twin when the stream is drained with availableNow."""

import pytest

# r15 slow tier (VERDICT r14 #2): structured-streaming foreachBatch drives —
# excluded from the default (driver-verify) run by pytest.ini's
# `-m "not slow"`; run with `-m slow` (round-close evidence in
# OPTIMIZATION_r15.md).
pytestmark = pytest.mark.slow

import os

from pyspark.sql import functions as F

from manifold_spark.queries import read_events
from manifold_spark.streaming.jobs import hourly_rollup, streaming_hourly_rollup


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    # Stage the events (with proper timestamps) as a parquet "stream" dir.
    events = read_events(spark, sf_dir)
    src = str(tmp_path / "stream-src")
    events.write.parquet(src)

    batch = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in hourly_rollup(events).collect()
    }

    stream_df = streaming_hourly_rollup(spark, src, events.schema)
    q = (
        stream_df.writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["hour_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM hourly_test").collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_streaming_session_window(spark, sf_dir, tmp_path):
    """Batch ≡ stream for sessionization (r7, VERDICT r6 #6): the
    `streaming_sessionize` session_window twin, drained with availableNow,
    must produce the SAME session rows as the driver-gated batch
    `sessionize` (minus the per-user ordinal session_id, meaningless on an
    unbounded stream). The corpus contains no exact-gap boundary events
    (verified), so the half-open-window boundary caveat documented on the
    twin does not bite."""
    from manifold_spark.streaming.jobs import sessionize, streaming_sessionize

    events = read_events(spark, sf_dir).limit(2000)
    src = str(tmp_path / "sess-src")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    q = (
        streaming_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT user_id, n_events, session_start, session_end FROM sessions_test"
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in sessionize(events)
        .select("user_id", "n_events", "session_start", "session_end")
        .collect()
    )
    assert len(out) > 0
    assert out == batch
    # Total events across sessions == input events (no loss, no dup)
    assert sum(r[1] for r in out) == events.count()


def test_stateful_spend_alerts(spark, sf_dir, tmp_path):
    """applyInPandasWithState: threshold alerts fire exactly once per
    (user, threshold) and agree with the batch cumulative computation."""
    from manifold_spark.streaming.stateful import spend_alerts_batch, spend_alerts_stream

    events = read_events(spark, sf_dir).filter("user_id < 50")
    src = str(tmp_path / "alerts-src")
    # Multiple files + maxFilesPerTrigger=1 → several micro-batches, so the
    # state genuinely carries across batches (one file would be one batch
    # and the test would never exercise resumed state).
    events.repartition(4).write.parquet(src)

    batch = {
        (r["user_id"], r["threshold"]) for r in spend_alerts_batch(events).collect()
    }

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        spend_alerts_stream(stream)
        .writeStream.format("memory")
        .queryName("alerts_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM alerts_test").collect()
    streamed = {(r["user_id"], r["threshold"]) for r in rows}
    assert len(rows) == len(streamed)  # exactly-once per (user, threshold)
    assert streamed == batch
    assert len(streamed) > 0


def test_streaming_listing_ingest(spark, listings_weeks, tmp_path):
    """The SAME cleaning chain runs under readStream: stream the raw
    listing JSON through clean_listings and match the batch result."""
    from manifold_spark.clean import clean_listings
    from manifold_spark.ingest import load_json_listings, timestep_path
    from manifold_spark.schema import LISTING_SCHEMA

    path = timestep_path(listings_weeks["root"], listings_weeks["week1"])
    batch = clean_listings(load_json_listings(spark, path))
    expected = sorted(map(repr, batch.collect()))

    stream = spark.readStream.schema(LISTING_SCHEMA).json(path)
    cleaned = clean_listings(stream)
    q = (
        cleaned.writeStream.format("memory")
        .queryName("ingest_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(repr, spark.sql("SELECT * FROM ingest_stream").collect()))
    assert got == expected
    assert len(got) == listings_weeks["week1_rows"]


def test_streaming_scd2_cdc(spark, tmp_path):
    """foreachBatch-driven SCD2: two staged micro-batches evolve the
    dimension with full merge semantics (new key, changed payload,
    unchanged key) and checkpointed exactly-once application."""
    import datetime as dt
    import json
    import os

    from manifold_spark.catalog import TableStore
    from manifold_spark.quality import duplicate_active_keys
    from manifold_spark.schema import DIM_KEYS
    from manifold_spark.streaming.cdc import scd2_stream
    from manifold_spark.sources.fixtures import make_listing
    import random

    src = str(tmp_path / "cdc-src")
    os.makedirs(src)
    rng = random.Random(3)
    l1 = make_listing(rng, "C1")
    l2 = make_listing(rng, "C2")
    with open(f"{src}/b0.json", "w") as f:
        for row in (l1, l2):
            f.write(json.dumps(row) + "\n")

    store = TableStore(str(tmp_path / "cdc-wh"))
    ckpt = str(tmp_path / "cdc-ckpt")
    dates = {0: dt.date(2024, 1, 1), 1: dt.date(2024, 1, 8)}
    as_of_fn = lambda bid: dates.get(bid, dt.date(2024, 2, 1))

    q = scd2_stream(spark, src, store, ckpt, as_of_fn=as_of_fn)
    q.awaitTermination(120)
    dim = store.read(spark, "presentation", "dim_asset")
    assert dim.count() == 2

    # second file: C1 price changed, C3 new
    l1b = dict(l1, PriceCurrencyFormated=(l1["PriceCurrencyFormated"] or 100.0) + 1)
    l3 = make_listing(rng, "C3")
    with open(f"{src}/b1.json", "w") as f:
        for row in (l1b, l3):
            f.write(json.dumps(row) + "\n")
    q = scd2_stream(spark, src, store, ckpt, as_of_fn=as_of_fn)
    q.awaitTermination(120)

    dim = store.read(spark, "presentation", "dim_asset")
    assert duplicate_active_keys(dim, DIM_KEYS["dim_asset"]).count() == 0
    c1 = sorted(
        dim.filter("contract_number = 'C1'").collect(),
        key=lambda r: r["record_start_date"],
    )
    assert len(c1) == 2  # expired + new version
    assert c1[0]["record_end_date"] == dt.date(2024, 1, 7)
    assert c1[1]["record_end_date"] == dt.date(9999, 12, 31)
    assert dim.filter("contract_number = 'C3'").count() == 1
    # checkpoint: re-running with no new files is a no-op
    before = sorted(map(repr, dim.collect()))
    q = scd2_stream(spark, src, store, ckpt, as_of_fn=as_of_fn)
    q.awaitTermination(120)
    after = sorted(map(repr, store.read(spark, "presentation", "dim_asset").collect()))
    assert before == after


def test_streaming_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Duplicated events drained through the watermarked streaming dedup
    must collapse to exactly the batch-distinct key set."""
    from manifold_spark.streaming.jobs import dedup_stream

    events = read_events(spark, sf_dir).limit(2000)
    src = str(tmp_path / "dedup-src")
    # inject duplicates: every event appears twice in the source
    events.unionByName(events).write.parquet(src)

    staged = spark.read.parquet(src)
    batch_ids = {r["event_id"] for r in staged.dropDuplicates(["event_id"]).collect()}
    assert staged.count() == 2 * len(batch_ids)

    stream = spark.readStream.schema(staged.schema).parquet(src)
    q = (
        dedup_stream(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = [r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_test").collect()]
    assert len(streamed) == len(set(streamed))  # no key emitted twice
    assert set(streamed) == batch_ids


def test_streaming_contamination_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static decontamination: documents streamed against a static
    benchmark shingle set must flag exactly the batch twin's doc set."""
    from manifold_spark.operators.dedup import contamination_check, shingle_rows
    from manifold_spark.streaming.jobs import contamination_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")

    batch = {
        (r["doc_id"], r["n_shared"])
        for r in contamination_check(train, bench, "text", "doc_id", shingle_n=5).collect()
    }

    src = str(tmp_path / "contam-src")
    train.write.parquet(src)
    bench_shingles = shingle_rows(bench, "text", "doc_id", 5).select("shingle").distinct()
    stream = spark.readStream.schema(train.schema).parquet(src)
    q = (
        contamination_stream(stream, bench_shingles)
        .writeStream.format("memory")
        .queryName("contam_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["doc_id"], r["n_shared"])
        for r in spark.sql("SELECT * FROM contam_test").collect()
    }
    assert streamed == batch


def test_streaming_ewma_matches_batch(spark, sf_dir, tmp_path):
    """The stateful streaming EWMA must equal the grouped-map batch twin
    when events arrive in event-time order across micro-batches."""
    from manifold_spark.operators.sequential import ewma_by_user
    from manifold_spark.streaming.stateful import ewma_stream

    events = read_events(spark, sf_dir).filter("user_id < 20")
    src = str(tmp_path / "ewma-src")
    # time-ordered file sequence -> multiple micro-batches, ordered arrival
    e = events.orderBy("ts", "event_id")
    rows = e.collect()
    half = len(rows) // 2
    spark.createDataFrame(rows[:half], e.schema).coalesce(1).write.parquet(f"{src}/p0")
    spark.createDataFrame(rows[half:], e.schema).coalesce(1).write.parquet(f"{src}/p1")

    batch = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in ewma_by_user(events, alpha=0.3).collect()
    }

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        ewma_stream(stream, alpha=0.3)
        .writeStream.format("memory")
        .queryName("ewma_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in spark.sql("SELECT * FROM ewma_test").collect()
    }
    assert set(streamed) == set(batch)
    for k in batch:
        assert abs(streamed[k] - batch[k]) < 1e-9


def test_stateful_spend_alerts_watermarked_disorder(spark, tmp_path):
    """Watermark-buffered fold: with events arriving OUT of event-time
    order across micro-batches (disorder within the watermark delay), the
    alerts — including the stamped cumulative — must equal the batch twin
    exactly. The arrival-order variant documents that it can differ; this
    one must not."""
    import datetime as dt

    from manifold_spark.streaming.stateful import (
        spend_alerts_batch,
        spend_alerts_stream_watermarked,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for user in range(5):
        for minute in range(0, 100):
            eid += 1
            rows.append(
                (user, eid, base + dt.timedelta(minutes=minute), (eid % 13 + 1) * 3.7)
            )
    schema = "user_id long, event_id long, ts timestamp, value double"
    events = spark.createDataFrame(rows, schema)

    batch = {
        (r["user_id"], r["threshold"], round(r["cumulative"], 6))
        for r in spend_alerts_batch(events).collect()
    }
    assert batch  # thresholds actually cross

    # Batch files with cross-batch disorder: events from minutes 20-40
    # are HELD BACK into the second file (≤20 min late; delay=25 min
    # covers it); a far-future zero-value sentinel closes the watermark.
    early, held = [], []
    for r in rows:
        minute = (r[2] - base).total_seconds() / 60
        if 20 <= minute < 40 and r[1] % 3 == 0:
            held.append(r)
        elif minute < 40:
            early.append(r)
    mid = [r for r in rows if 40 <= (r[2] - base).total_seconds() / 60 < 70]
    late = [r for r in rows if (r[2] - base).total_seconds() / 60 >= 70]
    sentinel = [(9999, 10**6, base + dt.timedelta(minutes=300), 0.0)]

    src = str(tmp_path / "wm-src")
    for i, part in enumerate((early, mid + held, late, sentinel)):
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(f"{src}/p{i}")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        spend_alerts_stream_watermarked(stream, delay="25 minutes")
        .writeStream.format("memory")
        .queryName("alerts_wm_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    out = spark.sql("SELECT * FROM alerts_wm_test WHERE user_id < 9999").collect()
    streamed = {
        (r["user_id"], r["threshold"], round(r["cumulative"], 6)) for r in out
    }
    assert len(out) == len(streamed)  # exactly-once per (user, threshold)
    assert streamed == batch


def test_foreachbatch_first_seen_matches_incremental_loop(spark, sf_dir, tmp_path):
    """The REAL writeStream.foreachBatch path (file source, one file per
    trigger, availableNow) must land on the same final state as the
    deterministic `incremental_first_seen` loop the `stream_dedup_batches`
    gate runs — same splits (event_id % 4), same upsert body
    (`first_seen_upsert`), state persisted between triggers as parquet
    versions (the local stand-in for a MERGE into a keyed table)."""
    import os

    from manifold_spark.streaming.jobs import first_seen_upsert, incremental_first_seen

    events = read_events(spark, sf_dir).select("event_id", "user_id", "event_type", "ts")
    keys = ["user_id", "event_type"]

    # Stage the 4 deterministic splits as files with strictly increasing
    # mtimes — FileStreamSource triggers oldest-first, so trigger order ==
    # split order, matching the loop's i-order.
    src = str(tmp_path / "fb-src")
    for i in range(4):
        part_dir = f"{src}/b{i}"
        events.filter(F.col("event_id") % 4 == i).coalesce(1).write.parquet(part_dir)
        for name in os.listdir(part_dir):
            os.utime(os.path.join(part_dir, name), (1_000_000 + i * 100,) * 2)

    state_root = str(tmp_path / "fb-state")
    state_paths: list[str] = []

    def sink(batch_df, batch_id):
        prev = spark.read.parquet(state_paths[-1]) if state_paths else None
        new_state = first_seen_upsert(batch_df, prev, keys, "event_id")
        path = f"{state_root}/v{len(state_paths)}"
        new_state.write.mode("overwrite").parquet(path)
        state_paths.append(path)

    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert len(state_paths) == 4

    streamed = {tuple(r) for r in spark.read.parquet(state_paths[-1]).collect()}
    loop = {tuple(r) for r in incremental_first_seen(events, keys, "event_id", 4).collect()}
    assert streamed == loop
    assert len(streamed) > 0


def test_foreachbatch_minhash_index_matches_batch(spark, sf_dir, tmp_path):
    """The incremental MinHash index under a REAL stream: documents
    arrive as files (one per trigger, availableNow), the foreachBatch
    sink pairs each batch against parquet-versioned index state, and the
    union of emitted pairs must equal the one-shot batch operator
    (cap off) — the end-to-end continuous-ingestion dedup pipeline."""
    import os

    from manifold_spark.operators import dedup

    NO_CAP = 1 << 30
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    truth = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", threshold=0.3, max_bucket=NO_CAP
        ).collect()
    }
    dedup.release_shingle_caches()

    src = str(tmp_path / "mh-src")
    for i in range(3):
        part = f"{src}/b{i}"
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(part)
        for name in os.listdir(part):
            os.utime(os.path.join(part, name), (2_000_000 + i * 100,) * 2)

    state_root = str(tmp_path / "mh-state")
    versions: list[int] = []
    emitted: list[tuple] = []

    def sink(batch_df, batch_id):
        v = len(versions)
        if v == 0:
            index = None
        else:
            index = {
                part: spark.read.parquet(f"{state_root}/v{v - 1}/{part}")
                for part in ("entries", "shingles", "sizes")
            }
        pairs, new_index = dedup.minhash_index_upsert(
            batch_df, index, "text", "doc_id", threshold=0.3, max_bucket=NO_CAP
        )
        emitted.extend((r["id_a"], r["id_b"]) for r in pairs.collect())
        for part, df in new_index.items():
            df.write.mode("overwrite").parquet(f"{state_root}/v{v}/{part}")
        versions.append(v)
        dedup.release_shingle_caches()

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(versions) == 3
    assert len(emitted) == len(set(emitted))  # each pair exactly once
    assert set(emitted) == truth
    assert len(truth) > 0


def test_streaming_curation_sink_matches_incremental_loop(spark, sf_dir, tmp_path):
    """The full incremental curation pipeline under a REAL stream
    (file-per-trigger, availableNow, parquet-versioned dedup state via
    `curation_sink`) must keep exactly the documents the ONE-SHOT
    `curate_batch_incremental` run keeps — test_curation.py already pins
    the one-shot equal to any id-ordered in-memory split, so this closes
    the loop at the real writeStream layer. (The in-memory loop is not
    re-run here: duplicating it alongside the stream held every
    localCheckpoint block in the shared 4g test JVM and OOMed.)"""
    import os

    from manifold_spark.curation import (
        curate_batch_incremental,
        curation_models,
        curation_sink,
    )
    from manifold_spark.operators.dedup import (
        operator_cache_scope,
        release_shingle_caches,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "text")
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

    # truth: the one-shot run (split-invariance pinned in test_curation)
    bounds = [(0, 170), (170, 340), (340, 1 << 60)]
    with operator_cache_scope():
        one_packed, _, _ = curate_batch_incremental(docs, models, None, **knobs)
        loop_ids = {r["doc_id"] for r in one_packed.collect()}

    # the real stream: batch files with increasing mtimes → trigger order
    src = str(tmp_path / "cur-src")
    for i, (lo, hi) in enumerate(bounds):
        part = f"{src}/b{i}"
        docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.parquet(part)
        for name in os.listdir(part):
            os.utime(os.path.join(part, name), (3_000_000 + i * 100,) * 2)

    out_path = str(tmp_path / "cur-out")
    state_dir = str(tmp_path / "cur-state")
    sink = curation_sink(models, state_dir, out_path, **knobs)
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    release_shingle_caches()

    streamed = spark.read.parquet(out_path)
    streamed_ids = {r["doc_id"] for r in streamed.select("doc_id").collect()}
    assert streamed_ids == loop_ids
    assert len(streamed_ids) > 0
    # three state versions persisted; batch ids stamped on the output
    assert sorted(os.listdir(state_dir)) == ["v0", "v1", "v2"]
    assert {r["batch_id"] for r in streamed.select("batch_id").collect()} == {0, 1, 2}


def test_curation_stream_restart_resumes(spark, sf_dir, tmp_path):
    """`start_curation_stream` with a CHECKPOINT, killed mid-corpus and
    restarted as a NEW query instance on the same checkpoint/state/out
    dirs: batch ids must RESUME (no reprocessing of drained files), and
    the union of both query instances' output must keep exactly the
    one-shot document set — the production restart-recovery contract
    the crash-point pins in test_curation_state.py simulate at the
    sink level."""
    import os

    from manifold_spark.curation import (
        curate_batch_incremental,
        curation_models,
        start_curation_stream,
    )
    from manifold_spark.operators.dedup import (
        operator_cache_scope,
        release_shingle_caches,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "lang", "text")
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
        one_packed, _, _ = curate_batch_incremental(docs, models, None, **knobs)
        one_ids = {r["doc_id"] for r in one_packed.collect()}

    bounds = [(0, 128), (128, 256), (256, 384), (384, 1 << 60)]
    src = str(tmp_path / "rcur-src")

    def write_slice(i, lo, hi):
        part = f"{src}/b{i}"
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.parquet(part)
        for name in os.listdir(part):
            os.utime(os.path.join(part, name), (4_000_000 + i * 100,) * 2)

    out_path = str(tmp_path / "rcur-out")
    state_dir = str(tmp_path / "rcur-state")
    ckpt = str(tmp_path / "rcur-ckpt")

    def run_available():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = start_curation_stream(
            stream, models, state_dir, out_path, ckpt,
            available_now=True, **knobs,
        )
        q.awaitTermination(600)

    # first query instance drains the first two slices, then stops
    for i, (lo, hi) in enumerate(bounds[:2]):
        write_slice(i, lo, hi)
    run_available()
    first_batches = {
        int(r["batch_id"])
        for r in spark.read.parquet(out_path).select("batch_id").collect()
    }
    assert first_batches == {0, 1}

    # rest of the corpus arrives; a NEW query resumes from the checkpoint
    for i, (lo, hi) in enumerate(bounds[2:], start=2):
        write_slice(i, lo, hi)
    run_available()
    release_shingle_caches()

    streamed = spark.read.parquet(out_path)
    assert {
        int(r["batch_id"]) for r in streamed.select("batch_id").collect()
    } == {0, 1, 2, 3}
    streamed_ids = {r["doc_id"] for r in streamed.select("doc_id").collect()}
    assert streamed_ids == one_ids
    assert len(streamed_ids) > 0


def test_streaming_nb_classify_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static NB classification (pretrained model, foreachBatch
    scoring) must land on exactly the batch `score_nb` rows when the doc
    stream is drained with availableNow (one file per trigger)."""
    from manifold_spark.operators.classifier import (
        doc_bucket_tf,
        score_nb,
        train_nb,
    )
    from manifold_spark.operators.dedup import release_shingle_caches
    from manifold_spark.streaming.jobs import nb_classify_sink

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    model, classes = train_nb(docs, doc_bucket_tf(docs, carry_cols=("lang",)))
    model = model.persist()
    classes = classes.persist()

    batch = {
        (r["doc_id"], r["pred"], round(r["score"], 9), round(r["margin"], 9))
        for r in score_nb(docs, model, classes).collect()
    }

    src = str(tmp_path / "nbc-src")
    for i in range(3):  # 3 files → 3 triggers
        docs.filter(F.col("doc_id") % 3 == i).write.mode("append").parquet(src)
    out = str(tmp_path / "nbc-out")
    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(nb_classify_sink(model, classes, out))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "nbc-ckpt"))
        .start()
    )
    q.awaitTermination(180)
    streamed = {
        (r["doc_id"], r["pred"], round(r["score"], 9), round(r["margin"], 9))
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == batch
    model.unpersist()
    classes.unpersist()
    release_shingle_caches()


def test_foreachbatch_bloom_index_matches_batch(spark, sf_dir, tmp_path):
    """The bounded-state Bloom dedup under a REAL stream: per-trigger
    flags against parquet-versioned bitmap state. The final bitmap must
    equal the one-shot build over the whole corpus; every cross-batch
    content duplicate must be flagged (no false negatives) and spurious
    flags stay at the designed false-positive rate."""
    import os

    from manifold_spark.functions.hashing import stable_long_hash
    from manifold_spark.operators import dedup

    M, K = 1 << 14, 5
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # the corpus has no EXACT text duplicates — replicate every 5th doc
    # under a new id landing in a LATER batch (10000 % 3 == 1), so the
    # cross-batch duplicate path is exercised for real
    dups = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    docs = base.unionByName(dups)
    fps = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", stable_long_hash(F.col("text")).cast("string").alias("fp")
    ).collect()}

    src = str(tmp_path / "bl-src")
    for i in range(3):
        part = f"{src}/b{i}"
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(part)
        for name in os.listdir(part):
            os.utime(os.path.join(part, name), (2_000_000 + i * 100,) * 2)

    state_root = str(tmp_path / "bl-state")
    versions: list[int] = []
    flagged: dict[int, int] = {}

    def sink(batch_df, batch_id):
        v = len(versions)
        bloom = None if v == 0 else spark.read.parquet(f"{state_root}/v{v - 1}")
        flags, new_bloom = dedup.bloom_index_upsert(
            batch_df, bloom, m_bits=M, k=K
        )
        flagged.update({r["doc_id"]: r["might_contain"] for r in flags.collect()})
        new_bloom.write.mode("overwrite").parquet(f"{state_root}/v{v}")
        versions.append(v)

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert len(versions) == 3 and len(flagged) == len(fps)

    # final streamed state == one-shot bitmap over the whole corpus
    whole = dedup.bloom_build(
        docs.select(stable_long_hash(F.col("text")).cast("string").alias("fp")),
        "fp", m_bits=M, k=K,
    )
    final = spark.read.parquet(f"{state_root}/v2")
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, whole.collect()))

    # no false negatives across batches: doc whose fp was seen in an
    # EARLIER trigger (doc_id % 3 is the batch) must be flagged
    seen: set[str] = set()
    must_flag, may_not = set(), set()
    for b in range(3):
        ids = sorted(d for d in fps if d % 3 == b)
        for d in ids:
            (must_flag if fps[d] in seen else may_not).add(d)
        seen.update(fps[d] for d in ids)
    assert all(flagged[d] == 1 for d in must_flag)
    false_pos = [d for d in may_not if flagged[d] == 1]
    assert len(false_pos) <= 3  # (1 - e^(-5n/m))^5 at n<=500, m=2^14
    assert len(must_flag) > 0  # the corpus really has cross-batch dups
