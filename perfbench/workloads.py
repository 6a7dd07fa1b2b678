"""The benchmark workloads. Each one generates its inputs from the seed,
warms up, runs its operation in a closed loop for the given seconds,
checks every output, and returns the timings and the traced spans. A
traced `curation_batch` run also runs the query probe afterwards."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field

from decimal import Decimal

from perfbench import gen

#: Weekly universe: ~80% listed each week, so ~20k listings a week.
UNIVERSE = 25_000
#: Untimed weeks before the timed ones (the first is the initial load).
WARM_WEEKS = 1
#: Curation corpus size (the sf0.1 `documents` table's), and the smaller
#: corpus of the same shape the warm-up call runs on.
N_DOCS = 5_000
N_WARM_DOCS = 1_000
#: Set-up repetitions whose median enters `setup_s` (input generation).
SETUP_REPS = 3
#: The order `run_week` accumulates its `stage_timings` in.
WEEK_STAGES = ("el_staging", "staging_quality", "scd2_dims", "fact_load")
#: The two windows of one curation operation: the call, then the write.
CURATION_SPANS = ("curate_corpus", "pack_write")
CURATION_STAGES = ("input", "c4_clean", "exact_dedup", "fuzzy_dedup", "quality", "mixture", "packed")

#: The curation outputs for the fixed corpus. Packing and mixture are
#: id-derived, so every seed (a row permutation) must reproduce them.
EXPECTED_CURATION = {
    "report": {
        "input": 5000,
        "c4_clean": 5000,
        "exact_dedup": 4997,
        "fuzzy_dedup": 4750,
        "quality": 3137,
        "mixture": 2454,
        "packed": 2454,
    },
    "packed_sha256": "815f19ee58475f105b0e5fbb85c4dfd1f2b8d22732ce05eb13ef6a821490f76d",
}
#: The query probe: the headline registry queries, one per operator
#: family (star join, SCD2 merge, date dimension, exact and fuzzy dedup,
#: top-k and IVF similarity, text statistics, the events queries).
#: `events_type_stats` is left out: on generated events its p90 differs
#: from the DuckDB oracle's in the last bit (see perfbench/README.md).
PROBE_QUERIES = (
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
    "events_sessionize",
    "events_json_extract",
    "events_asof_join",
    "topn_per_group",
)
PROBE_TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "embeddings", "documents")


@dataclass
class Outcome:
    setup_s: float
    op_s: list[float] = field(default_factory=list)
    records: int = 0
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    errors: list[str] = field(default_factory=list)
    #: (span name, start, end) on the epoch clock, for traced runs.
    spans: list[tuple[str, float, float]] = field(default_factory=list)
    #: (start, end) of each timed operation on the epoch clock.
    ops: list[tuple[float, float]] = field(default_factory=list)
    #: JVM heap MB allocated by each timed operation.
    alloc_mb: list[float] = field(default_factory=list)
    #: Spans of the query probe (traced curation runs), outside the ops.
    probe_spans: list[tuple[str, float, float]] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def fail(self, msg: str) -> None:
        self.correct = False
        self.errors.append(msg)


def heap_allocated_mb(spark) -> float:
    """MB the driver JVM has allocated on its heap since it started, over
    all threads (executor threads included in local mode)."""
    beans = spark._jvm.java.lang.management.ManagementFactory
    return beans.getThreadMXBean().getTotalThreadAllocatedBytes() / (1024 * 1024)


def keep_going(out: Outcome, t_loop: float, seconds: float) -> bool:
    """The closed loop's time box: always run one operation, and start
    another only if it is expected (at the median so far) to end inside
    the measurement window."""
    if not out.op_s:
        return True
    elapsed = time.perf_counter() - t_loop
    return elapsed + statistics.median(out.op_s) <= seconds


#: sha256 of `listing_fixture_digest()`: the weekly inputs come from the
#: package's fixture generator, and a change to it would change what the
#: benchmark measures, so the run checks it first.
LISTING_FIXTURE_SHA256 = "c4bc70b67f1f3f35ca6be5eb6d741eeb2ea68e47919f3baa3966c2ad9510b969"


def listing_fixture_digest() -> str:
    """sha256 over two weeks of a small seeded universe, as JSON."""
    evo = gen.WeeklyEvolution(seed=0, universe=200)
    weeks = [evo.next_week() for _ in range(2)]
    return hashlib.sha256(json.dumps(weeks, default=str, sort_keys=True).encode()).hexdigest()


def _timed_setup_reps(make) -> tuple[float, str]:
    """Run the input generator SETUP_REPS times into fresh dirs; returns
    the median time and the kept dir. Every rep must be byte-identical."""
    times, digests, dirs = [], [], []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        d = make()
        times.append(time.perf_counter() - t)
        digests.append(gen.tree_digest(d))
        dirs.append(d)
    for d in dirs[1:]:
        shutil.rmtree(d)
    if len(set(digests)) != 1:
        raise RuntimeError("input generation is not deterministic")
    return statistics.median(times), dirs[0]


# ---------------------------------------------------------------------------
# weekly_backfill
# ---------------------------------------------------------------------------


def check_warehouse(spark, store, evo) -> list[str]:
    """Read the warehouse back and check the SCD2 and fact invariants
    against what the generator wrote. Returns the failures."""
    from pyspark.sql import functions as F

    from manifold_spark.schema import DIM_KEYS, SCD2_SENTINEL

    errors = []
    active = F.col("record_end_date") == F.lit(SCD2_SENTINEL).cast("date")
    for dim, keys in DIM_KEYS.items():
        df = store.read(spark, "presentation", dim)
        dup = df.filter(active).groupBy(*keys).count().filter("count > 1").count()
        if dup:
            errors.append(f"{dim}: {dup} business keys with more than one active row")
    asset = store.read(spark, "presentation", "dim_asset")
    row = asset.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("contract_number").alias("keys"),
        F.count(F.when(active, 1)).alias("active"),
    ).collect()[0]
    if row["rows"] != evo.versions:
        errors.append(f"dim_asset: {row['rows']} rows, expected {evo.versions}")
    if row["keys"] != len(evo.last_price) or row["active"] != len(evo.last_price):
        errors.append(
            f"dim_asset: {row['keys']} keys / {row['active']} active, expected {len(evo.last_price)}"
        )
    fact = store.read(spark, "presentation", "fact_stock")
    row = fact.agg(F.count(F.lit(1)).alias("rows"), F.countDistinct("id").alias("ids")).collect()[0]
    if row["rows"] != evo.rows_written or row["ids"] != evo.rows_written:
        errors.append(
            f"fact_stock: {row['rows']} rows / {row['ids']} ids, expected {evo.rows_written}"
        )
    return errors


def check_week_counts(counts: dict, evo) -> list[str]:
    """The counts `run_week` reports against the generator's ledger."""
    errors = []
    if counts.get("presentation.fact_stock") != evo.rows_written:
        errors.append(f"fact_stock count {counts.get('presentation.fact_stock')} != {evo.rows_written}")
    if counts.get("presentation.dim_asset") != evo.versions:
        errors.append(f"dim_asset count {counts.get('presentation.dim_asset')} != {evo.versions}")
    return errors


def weekly_backfill(spark, workdir: str, seed: int, seconds: float, t_start: float, trace: bool) -> Outcome:
    from manifold_spark.catalog import TableStore
    from manifold_spark.pipeline import run_week
    from manifold_spark.sources.fixtures import write_week

    state = {}

    def make() -> str:
        raw = os.path.join(workdir, f"raw-{len(state)}")
        evo = gen.WeeklyEvolution(seed, UNIVERSE)
        dates = []
        for _ in range(WARM_WEEKS):
            date, rows = evo.next_week()
            write_week(raw, date, rows)
            dates.append(date)
        state[raw] = evo, dates
        return raw

    session_s = time.perf_counter() - t_start
    if listing_fixture_digest() != LISTING_FIXTURE_SHA256:
        raise RuntimeError("the listing fixture generator changed: the weekly inputs are not the benchmark's")
    gen_s, raw = _timed_setup_reps(make)
    evo, warm_dates = state[raw]
    raw_bytes = gen.tree_bytes(raw)
    store = TableStore(os.path.join(workdir, "warehouse"))

    # Warm-up: the first weeks, untimed; they also build the target the
    # timed merges run against.
    t = time.perf_counter()
    for date in warm_dates:
        run_week(spark, store, raw, date)
    warm_s = time.perf_counter() - t
    out = Outcome(setup_s=session_s + gen_s + warm_s)
    out.extra.update(session_s=session_s, gen_s=gen_s, warm_s=warm_s)

    t_loop = time.perf_counter()
    while keep_going(out, t_loop, seconds):
        date, rows = evo.next_week()
        folder = write_week(raw, date, rows)
        raw_bytes += os.path.getsize(os.path.join(folder, "listings.json"))
        stages: dict = {}
        out.attempted += 1
        a0 = heap_allocated_mb(spark)
        w0, t = time.time(), time.perf_counter()
        try:
            counts = run_week(spark, store, raw, date, stage_timings=stages)
            errs = check_week_counts(counts, evo)
        except Exception as exc:  # a raising call counts as failed
            errs = [f"run_week({date}) raised {exc!r}\n{traceback.format_exc()}"]
        took = time.perf_counter() - t
        out.alloc_mb.append(heap_allocated_mb(spark) - a0)
        out.op_s.append(took)
        out.ops.append((w0, w0 + took))
        out.records += len(rows)
        if errs:
            out.failed += 1
            for e in errs:
                out.fail(e)
        a = w0
        for key in WEEK_STAGES:
            d = stages.get(key, 0.0)
            out.spans.append((f"pipeline.{key}", a, a + d))
            a += d

    errs = check_warehouse(spark, store, evo)
    if errs:
        out.failed = max(out.failed, 1)
        for e in errs:
            out.fail(e)
    out.extra["warehouse_bytes_ratio"] = gen.tree_bytes(store.root) / raw_bytes
    return out


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------


def packed_digest(rows) -> str:
    """Order-insensitive sha256 over the packed rows' values."""
    lines = sorted("|".join(str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check_curation(report: dict, digest: str, expected: dict) -> list[str]:
    """A run's report and packed hash against the committed expectation,
    which holds for every seed and every repetition."""
    errors = []
    if report != expected["report"]:
        errors.append(f"curation report {report} != expected {expected['report']}")
    if digest != expected["packed_sha256"]:
        errors.append(f"packed hash {digest[:12]} != expected {expected['packed_sha256'][:12]}")
    return errors


def curation_batch(spark, workdir: str, seed: int, seconds: float, t_start: float, trace: bool) -> Outcome:
    from manifold_spark.curation import curate_corpus
    from manifold_spark.operators.dedup import operator_cache_scope

    reps = []

    def make() -> str:
        d = os.path.join(workdir, f"docs-{len(reps)}")
        reps.append(d)
        os.makedirs(d)
        gen.write_corpus(os.path.join(d, "documents.parquet"), N_DOCS, seed)
        gen.write_corpus(os.path.join(d, "warm.parquet"), N_WARM_DOCS, seed)
        return d

    session_s = time.perf_counter() - t_start
    gen_s, docs_dir = _timed_setup_reps(make)
    path = os.path.join(docs_dir, "documents.parquet")

    def op(path: str, spans: list | None):
        with operator_cache_scope():
            w0, t = time.time(), time.perf_counter()
            packed, report = curate_corpus(spark.read.parquet(path), pack_budget=512)
            w1 = time.time()
            packed.write.format("noop").mode("overwrite").save()
            took = time.perf_counter() - t
            if spans is not None:
                call, write = (f"curation.{name}" for name in CURATION_SPANS)
                spans.append((call, w0, w1))
                spans.append((write, w1, w0 + took))
            digest = packed_digest(packed.collect())  # untimed output check
        return took, report, digest

    # Warm-up: one call on the smaller corpus of the same shape.
    t = time.perf_counter()
    op(os.path.join(docs_dir, "warm.parquet"), None)
    warm_s = time.perf_counter() - t
    out = Outcome(setup_s=session_s + gen_s + warm_s)
    out.extra.update(session_s=session_s, gen_s=gen_s, warm_s=warm_s)

    t_loop = time.perf_counter()
    while keep_going(out, t_loop, seconds):
        out.attempted += 1
        a0 = heap_allocated_mb(spark)
        t_wall, t = time.time(), time.perf_counter()
        try:
            took, rep, dig = op(path, out.spans)
            out.alloc_mb.append(heap_allocated_mb(spark) - a0)
            out.extra.update(rows=rep, packed_sha256=dig)
            errs = check_curation(rep, dig, EXPECTED_CURATION)
        except Exception as exc:  # a raising call counts as failed
            took = time.perf_counter() - t
            errs = [f"curate_corpus raised {exc!r}\n{traceback.format_exc()}"]
        out.op_s.append(took)
        out.ops.append((t_wall, t_wall + took))
        out.records += N_DOCS
        if errs:
            out.failed += 1
            for e in errs:
                out.fail(e)
    if trace:
        tables = os.path.join(workdir, "tables")
        gen.write_probe_tables(tables, seed)
        shutil.copy(path, os.path.join(tables, "documents.parquet"))
        query_probe(spark, tables, seed, out)
    return out


# ---------------------------------------------------------------------------
# query probe (traced curation_batch runs)
# ---------------------------------------------------------------------------


# The comparison of tests/test_queries_oracle.py, which the benchmark
# cannot import (test modules are not part of the package).
def _norm(v):
    """A value as the oracle comparison sees it: exact floats, ISO dates."""
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.17g}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def result_digest(cols: list[str], rows) -> str:
    """Order-insensitive sha256 over a result: its column names and the
    multiset of its rows, columns sorted by name."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)
    head = repr([cols[i] for i in idx])
    return hashlib.sha256("\n".join([head, *lines]).encode()).hexdigest()


def check_query(name: str, got: tuple[list[str], list], oracle: tuple[list[str], list]) -> list[str]:
    """A query's Spark result against its DuckDB oracle's result."""
    if result_digest(*got) == result_digest(*oracle):
        return []
    return [f"{name}: {len(got[1])} rows, oracle {len(oracle[1])}; result hash differs from the oracle's"]


def query_probe(spark, tables: str, seed: int, out: Outcome) -> None:
    """Run the probe queries over the generated tables: one untimed pass
    that checks each result against its DuckDB oracle (and warms them
    up), then one traced pass in a seeded order, each query built
    (`queries.build`) and executed with a noop write (`queries.execute`)
    in its own operator cache scope."""
    import duckdb

    from manifold_spark.operators.dedup import operator_cache_scope
    from manifold_spark.queries import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    try:
        for t in PROBE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        for name in PROBE_QUERIES:
            out.attempted += 1
            try:
                with operator_cache_scope():
                    df = queries[name](spark, tables)
                    got = (list(df.columns), [tuple(r) for r in df.collect()])
                res = con.execute(oracles[name])
                errs = check_query(name, got, ([d[0] for d in res.description], res.fetchall()))
            except Exception as exc:  # a raising query counts as failed
                errs = [f"{name} raised {exc!r}\n{traceback.format_exc()}"]
            if errs:
                out.failed += 1
                for e in errs:
                    out.fail(e)
    finally:
        con.close()
    order = list(PROBE_QUERIES)
    random.Random(seed).shuffle(order)
    for name in order:
        with operator_cache_scope():
            w0 = time.time()
            df = queries[name](spark, tables)
            w1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            w2 = time.time()
        out.probe_spans += [("queries.build", w0, w1), ("queries.execute", w1, w2), (f"queries.{name}", w0, w2)]


WORKLOADS = {
    "weekly_backfill": weekly_backfill,
    "curation_batch": curation_batch,
}
