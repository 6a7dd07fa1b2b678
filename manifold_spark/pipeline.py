"""Weekly pipeline driver (reference DAG `manifold_main`, §2.8).

The reference's 6-stage Airflow DAG (scrape → EL → staging DDL → staging
load → SCD2 dims → fact) collapses to one function: every stage is a
DataFrame program against the TableStore. Stage boundaries are preserved
as real writes (staging Parquet exists on disk after the run, like the
reference's `staging.*` tables) so each stage is independently testable
and restartable.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from manifold_spark import clean, ingest, quality, scd2, stage
from manifold_spark.catalog import TableStore
from manifold_spark.dims import date_dimension
from manifold_spark.facts import load_fact_stock
from manifold_spark.schema import DIM_KEYS, SURROGATE_KEYS


def _observe_rows(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count `Observation` attached; the count is read
    off the action that writes ``df``, so no Spark job re-counts it."""
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def run_week(
    spark: SparkSession,
    store: TableStore,
    raw_root: str,
    execution_date: str | dt.date,
    stage_timings: dict | None = None,
) -> dict[str, int]:
    """Run one weekly timestep end-to-end. Returns row counts per table.

    Each dimension is merged with `scd2.scd2_merge` and rebuilt in full
    (`TableStore.overwrite`); the fact table gets only this week's
    ``date_id`` partition (`TableStore.overwrite_partitions`), so a
    re-run of a week replaces it in place.

    The returned counts come from what the run already computes: each
    staging table's from an `Observation` on its write, each
    dimension's from its invariant check, and the fact table's from an
    `Observation` on the week's write plus the retained partitions'
    count; no table is read back just to count it. An empty staging
    table raises `QualityError` in the staging_quality stage, before any
    presentation table is written. Every table is read with its declared
    schema (`schema.WAREHOUSE_SCHEMAS`), so no read runs an inference
    job.

    ``stage_timings`` (r13, VERDICT r12 #2): pass a dict and each
    stage's wall seconds are accumulated into it (el_staging,
    staging_quality, scd2_dims, fact_load — keys sum to the call's wall
    time). Pure observation at the existing stage boundaries; the
    execution path is identical either way. The bench publishes this as
    `pipeline_run_week_stages` so a moving headline row names its
    stage. r14 note: the three dimension merges + the date dimension
    now run CONCURRENTLY (guide §2.6 — independent writes back-fill
    each other's stragglers), so the former per-dim keys
    (scd2_dim_* ×3, date_dim) collapse into the one `scd2_dims`
    wall-clock key; per-dim wall times would overlap and no longer sum
    to the row."""
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    _t0 = _time.perf_counter()

    def _mark(key: str) -> None:
        nonlocal _t0
        now = _time.perf_counter()
        if stage_timings is not None:
            stage_timings[key] = round(
                stage_timings.get(key, 0.0) + (now - _t0), 3
            )
        _t0 = now

    if isinstance(execution_date, dt.date):
        execution_date = execution_date.isoformat()

    # Stage 2 — EL: ingest + clean, one cached scan feeding the 4-way
    # staging fan-out (the reference's deliberate `.cache()`,
    # `el_to_parquet.py:324-325` — without it each sink re-reads the JSON).
    # r14 (guide §2.6): the four staging writes are independent jobs over
    # the shared cache — submitted from a thread pool so each write's
    # straggler tail back-fills with the next write's tasks (cache blocks
    # are computed once under BlockManager per-partition locks). Each
    # write carries an Observation that counts its rows for the
    # staging_quality stage.
    from manifold_spark.plans.parallelism import (
        scoped_scan_split_size,
        submit_inheriting,
    )

    def _write_staging(item: tuple[str, DataFrame]) -> Observation:
        name, df = item
        df, obs = _observe_rows(df, f"staging_rows_{name}")
        store.overwrite(df, "staging", name)
        return obs

    path = ingest.timestep_path(raw_root, execution_date)
    base = clean.clean_listings(ingest.load_json_listings(spark, path))
    base = base.cache()
    try:
        # r14: the weekly snapshot is typically ONE JSON-lines file, so
        # the parse ran as a single task; the scoped split-size shrink
        # fans the scan itself across the cores (no-op on real
        # multi-file inputs).
        with scoped_scan_split_size(spark, path):
            staged = stage.stage_all(base, execution_date)
            with ThreadPoolExecutor(max_workers=len(staged)) as pool:
                futures = [
                    submit_inheriting(pool, spark, _write_staging, item)
                    for item in staged.items()
                ]
                observed = dict(zip(staged, (f.result() for f in futures)))
    finally:
        base.unpersist()
    _mark("el_staging")

    # Stage 4 — staging quality (reference A2): every staging table is
    # non-empty. The counts were observed on the staging writes, so this
    # stage runs no Spark job; an empty week still fails here, before
    # any presentation table is touched.
    counts = {
        f"staging.{name}": quality.check_nonempty(int(obs.get["n"]), f"staging.{name}")
        for name, obs in observed.items()
    }
    _mark("staging_quality")

    # Stage 5 — SCD2 merge per dimension + the date dimension, run
    # CONCURRENTLY (r14, guide §2.6): the three merges and the date-dim
    # write touch disjoint tables, so their jobs overlap — the phase
    # wall time is max(dim) instead of sum(dims). The post-merge gates
    # (unique-active + non-empty) are ONE aggregate action per dim
    # (`assert_dim_invariants`), not two.
    def _merge_dim(item: tuple[str, str]) -> tuple[str, int]:
        dim_name, sk_col = item
        base_df = store.read(spark, "staging", dim_name)
        target = (
            store.read(spark, "presentation", dim_name)
            if store.exists("presentation", dim_name)
            else None
        )
        merged = scd2.scd2_merge(target, base_df, sk_col, DIM_KEYS[dim_name], execution_date)
        store.overwrite(merged, "presentation", dim_name)
        dim = store.read(spark, "presentation", dim_name)
        return dim_name, quality.assert_dim_invariants(
            dim, DIM_KEYS[dim_name], dim_name
        )

    def _date_dim() -> None:
        # Date dimension (reference: a view; materialized once here).
        if not store.exists("presentation", "dim_date"):
            store.overwrite(date_dimension(spark), "presentation", "dim_date")

    # r15 (guide §2.6): the fact id-offset scalar (and the retained-row
    # count the final gate needs) depend only on PREVIOUS weeks' fact
    # partitions — disjoint from every dimension table — so that agg job
    # overlaps the dim merges instead of running as a serial action
    # between them and the fact write. One aggregate returns BOTH scalars
    # (max id + retained count) where the old path ran a max-only agg and
    # then re-counted the whole table after the write.
    week_date_id = int(execution_date.replace("-", ""))

    def _fact_prep() -> tuple[int, int]:
        if not store.exists("presentation", "fact_stock"):
            return 0, 0
        existing = store.read(spark, "presentation", "fact_stock").filter(
            F.col("date_id") != week_date_id
        )
        row = existing.agg(
            F.max("id").alias("mx"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        return (row["mx"] or 0), row["n"]

    with ThreadPoolExecutor(max_workers=len(SURROGATE_KEYS) + 2) as pool:
        date_future = submit_inheriting(pool, spark, _date_dim)
        fact_prep_future = submit_inheriting(pool, spark, _fact_prep)
        dim_futures = [
            submit_inheriting(pool, spark, _merge_dim, item)
            for item in SURROGATE_KEYS.items()
        ]
        for f in dim_futures:
            dim_name, n = f.result()
            counts[f"presentation.{dim_name}"] = n
        date_future.result()
    _mark("scd2_dims")

    # Stage 6 — fact load: write ONLY the week's date_id partition.
    # Dynamic partition overwrite, so a re-run replaces the week in place;
    # the id offset comes from the OTHER partitions' max (a driver-side
    # scalar resolved before the write job starts, so there is no
    # read-while-write hazard). Cost per week is O(week), never O(table
    # history); all other partitions' files are untouched. Readers get
    # partition pruning on the time axis (the reference's
    # path-partitioning, now as a Catalyst-visible layout).
    # r15: the non-empty gate's count comes from an Observation ON the
    # write job (written rows) plus the retained-partition count from
    # `_fact_prep` — the same total the old read-back count() computed,
    # without re-scanning the table after the write (guide §1.4/§2.6;
    # VERDICT r14 #3). That total matches disk because `fact_new` is
    # never empty here: staging_quality already failed on an empty
    # staging.fact_stock, and `load_fact_stock` only left-joins it, so
    # the write always replaces the week's partition.
    fact_staging = store.read(spark, "staging", "fact_stock")
    id_offset, n_retained = fact_prep_future.result()

    fact_new = load_fact_stock(
        fact_staging,
        store.read(spark, "presentation", "dim_broker"),
        store.read(spark, "presentation", "dim_asset"),
        store.read(spark, "presentation", "dim_geography"),
        id_offset=id_offset,
    )
    fact_new, obs = _observe_rows(fact_new, "fact_load_rows")
    store.overwrite_partitions(fact_new, "presentation", "fact_stock", partition_by=["date_id"])
    counts["presentation.fact_stock"] = quality.check_nonempty(
        n_retained + int(obs.get["n"]), "fact_stock"
    )
    _mark("fact_load")
    return counts
