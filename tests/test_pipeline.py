"""End-to-end weekly pipeline over synthetic listing JSON (FIXTURES.md §3
invariants): two weeks, SCD2 evolution, fact resolution."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from manifold_spark.catalog import TableStore
from manifold_spark.pipeline import run_week
from manifold_spark.quality import QualityError, duplicate_active_keys
from manifold_spark.schema import DIM_KEYS, WAREHOUSE_SCHEMAS
from manifold_spark.sources.fixtures import write_week

SENTINEL = dt.date(9999, 12, 31)


@pytest.fixture(scope="module")
def warehouse(spark, listings_weeks, tmp_path_factory):
    store = TableStore(str(tmp_path_factory.mktemp("wh")))
    c1 = run_week(spark, store, listings_weeks["root"], listings_weeks["week1"])
    c2 = run_week(spark, store, listings_weeks["root"], listings_weeks["week2"])
    return {"store": store, "counts1": c1, "counts2": c2, "meta": listings_weeks}


def test_staging_written(spark, warehouse):
    store = warehouse["store"]
    for t in ("dim_broker", "dim_geography", "dim_asset", "fact_stock"):
        df = store.read(spark, "staging", t)
        assert df.count() > 0
        assert "hash" in df.columns or t == "fact_stock"


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_declared_schemas_match_disk(spark, warehouse):
    """After weeks 1 and 2, every warehouse table as Spark infers it from
    its files (partitioned `fact_stock` and `dim_date` included) has
    exactly its declared column names, order and types."""
    store = warehouse["store"]
    declared = [(db, t) for db, tables in WAREHOUSE_SCHEMAS.items() for t in tables]
    assert len(declared) == 9
    for db, t in declared:
        inferred = spark.read.parquet(store.path(db, t)).schema
        assert _fields(inferred) == _fields(WAREHOUSE_SCHEMAS[db][t]), f"{db}.{t}"


def test_declared_read_runs_no_job(spark, warehouse):
    """`TableStore.read` hands the declared schema to the reader, so no
    read launches the Parquet footer-inference job."""
    store = warehouse["store"]
    sc = spark.sparkContext
    sc.setJobGroup("declared-read", "TableStore.read job-count pin")
    try:
        frames = [
            store.read(spark, db, t) for db, tables in WAREHOUSE_SCHEMAS.items() for t in tables
        ]
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("declared-read") == []
    assert [_fields(df.schema) for df in frames] == [
        _fields(s) for tables in WAREHOUSE_SCHEMAS.values() for s in tables.values()
    ]


def test_writes_reject_undeclared_schemas(spark, warehouse):
    """A frame whose columns differ from the declaration in name, order
    or type, or a table that is not declared at all, raises before the
    write; the table's files stay as they were."""
    store = warehouse["store"]
    presentation = os.path.join(store.root, "presentation")
    before = _partition_snapshot(presentation)
    broker = store.read(spark, "presentation", "dim_broker")
    fact = store.read(spark, "presentation", "fact_stock")
    bad = {
        "extra column": broker.withColumn("extra", F.lit(1)),
        "missing column": broker.drop("hash"),
        "reordered": broker.select("broker", "broker_id", "hash", "record_start_date", "record_end_date"),
        "retyped": broker.withColumn("broker_id", F.col("broker_id").cast("int")),
    }
    for df in bad.values():
        with pytest.raises(ValueError, match="presentation.dim_broker"):
            store.overwrite(df, "presentation", "dim_broker")
    with pytest.raises(ValueError, match="presentation.fact_stock"):
        store.overwrite_partitions(
            fact.withColumn("price", F.col("price").cast("float")),
            "presentation",
            "fact_stock",
            partition_by=["date_id"],
        )
    with pytest.raises(ValueError, match="not declared"):
        store.overwrite(broker, "presentation", "dim_broker_copy")
    with pytest.raises(ValueError, match="not declared"):
        store.read(spark, "presentation", "dim_broker_copy")
    assert _partition_snapshot(presentation) == before
    assert sorted(os.listdir(presentation)) == sorted(WAREHOUSE_SCHEMAS["presentation"])


def test_unique_active_invariant(spark, warehouse):
    store = warehouse["store"]
    for dim, keys in DIM_KEYS.items():
        df = store.read(spark, "presentation", dim)
        assert duplicate_active_keys(df, keys).count() == 0


def test_scd2_price_changes_create_versions(spark, warehouse):
    """Assets whose price changed in week2 must have 2 versions: one
    expired at week2-1, one active starting week2."""
    store = warehouse["store"]
    meta = warehouse["meta"]
    dim = store.read(spark, "presentation", "dim_asset")
    versions = dim.groupBy("contract_number").count().filter("count > 1")
    n_changed = versions.count()
    assert n_changed >= meta["changed_prices"]  # price changes all produce versions
    expired = dim.filter(F.col("record_end_date") == F.lit(meta["week2"]).cast("date") - F.expr("INTERVAL 1 DAY"))
    assert expired.count() == n_changed


def test_fact_resolves_surrogate_keys(spark, warehouse):
    store = warehouse["store"]
    fact = store.read(spark, "presentation", "fact_stock")
    meta = warehouse["meta"]
    assert fact.count() == meta["week1_rows"] + meta["week2_rows"]
    # every fact row resolved its asset and geography (they come from the same rows)
    assert fact.filter(F.col("asset_id").isNull()).count() == 0
    assert fact.filter(F.col("broker_id").isNull()).count() == 0
    # two distinct date keys
    date_ids = {r[0] for r in fact.select("date_id").distinct().collect()}
    assert date_ids == {
        int(meta["week1"].replace("-", "")),
        int(meta["week2"].replace("-", "")),
    }
    # ids are unique
    assert fact.select("id").distinct().count() == fact.count()


def _compiles(spark) -> int:
    """Janino compiles the JVM has run (one per generated class built)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_rerun_reuses_generated_classes(spark, warehouse, listings_weeks):
    """A warm `run_week` needs ~200 distinct generated classes. The
    session's codegen cache holds them all, so re-running a week right
    after a run of the same week compiles almost nothing. With Spark's
    default of 100 entries each call evicted its own classes and
    recompiled ~190 of them."""
    store = warehouse["store"]
    run_week(spark, store, listings_weeks["root"], listings_weeks["week2"])
    before = _compiles(spark)
    run_week(spark, store, listings_weeks["root"], listings_weeks["week2"])
    compiled = _compiles(spark) - before
    assert compiled <= 20, f"a warm run_week compiled {compiled} classes"


def _marker_job(sc, group: str) -> int:
    """Id of a one-task job run under ``group``; job ids are sequential."""
    sc.setJobGroup(group, "job-id marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    (job_id,) = sc.statusTracker().getJobIdsForGroup(group)
    return job_id


def test_run_week_jobs_carry_caller_job_group(spark, warehouse, listings_weeks):
    """Every job a `run_week` call starts, the staging writes and the
    dimension merges on its pool threads included, runs in the caller's
    job group: the group's jobs are exactly the ids between two marker
    jobs run before and after the call."""
    sc = spark.sparkContext
    first = _marker_job(sc, "run-week-group-before")
    sc.setJobGroup("run-week-group", "run_week under a caller job group")
    try:
        run_week(spark, warehouse["store"], listings_weeks["root"], listings_weeks["week2"])
    finally:
        sc.setJobGroup(None, None)
    last = _marker_job(sc, "run-week-group-after")
    in_group = set(sc.statusTracker().getJobIdsForGroup("run-week-group"))
    assert in_group == set(range(first + 1, last))


def test_fact_idempotent_rerun(spark, warehouse, listings_weeks):
    store = warehouse["store"]
    before = store.read(spark, "presentation", "fact_stock").count()
    run_week(spark, store, listings_weeks["root"], listings_weeks["week2"])
    after = store.read(spark, "presentation", "fact_stock").count()
    assert before == after  # idempotent re-run doesn't double the week


def _partition_snapshot(path):
    """{relpath: (size, mtime_ns)} for every data file under a table dir."""
    snap = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(dirpath, f)
                st = os.stat(full)
                snap[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return snap


def test_fact_load_touches_only_its_partition(spark, listings_weeks, tmp_path_factory):
    """The weekly fact write must be partition-scoped: after week 2 runs,
    week 1's date_id partition files are bit-for-bit untouched (same
    paths, sizes, mtimes) — the write cost is O(week), not O(history)."""
    store = TableStore(str(tmp_path_factory.mktemp("wh-partscope")))
    meta = listings_weeks
    run_week(spark, store, meta["root"], meta["week1"])
    fact_path = store.path("presentation", "fact_stock")
    week1_key = f"date_id={int(meta['week1'].replace('-', ''))}"
    before = {
        p: v for p, v in _partition_snapshot(fact_path).items() if p.startswith(week1_key)
    }
    assert before, "week1 partition must exist"

    run_week(spark, store, meta["root"], meta["week2"])
    snap = _partition_snapshot(fact_path)
    after = {p: v for p, v in snap.items() if p.startswith(week1_key)}
    assert after == before  # week1 files untouched by week2's write
    week2_key = f"date_id={int(meta['week2'].replace('-', ''))}"
    assert any(p.startswith(week2_key) for p in snap)


def test_reported_counts_match_disk(spark, listings_weeks, tmp_path_factory):
    """`run_week`'s reported staging.* and presentation.* counts equal
    what a read-back finds on disk — after each week and after a re-run
    of a week. An empty week fails at staging_quality, before any
    presentation table is written, so no stale or partial state can
    make the report and the disk disagree."""
    store = TableStore(str(tmp_path_factory.mktemp("wh-counts")))
    meta = listings_weeks
    tables = ("dim_broker", "dim_geography", "dim_asset", "fact_stock")
    expected_keys = {f"{db}.{t}" for db in ("staging", "presentation") for t in tables}
    for week in (meta["week1"], meta["week2"], meta["week2"]):
        counts = run_week(spark, store, meta["root"], week)
        assert set(counts) == expected_keys
        assert counts == {k: store.read(spark, *k.split(".")).count() for k in counts}

    presentation = os.path.join(store.root, "presentation")
    before = _partition_snapshot(presentation)
    empty_root = str(tmp_path_factory.mktemp("raw-empty"))
    empty_week = dt.date.fromisoformat(meta["week2"]) + dt.timedelta(weeks=1)
    write_week(empty_root, empty_week, [])
    stages = {}
    with pytest.raises(QualityError, match=r"staging\."):
        run_week(spark, store, empty_root, empty_week, stage_timings=stages)
    assert set(stages) == {"el_staging"}  # raised inside staging_quality
    assert _partition_snapshot(presentation) == before


def test_date_dimension(spark, warehouse):
    store = warehouse["store"]
    dd = store.read(spark, "presentation", "dim_date")
    assert dd.count() == 30 * 365 + 1
    jan1 = dd.filter(F.col("date_id") == 20180101).collect()[0]
    assert jan1["full_date"] == "2018-01-01"
    assert jan1["year_number"] == 2018
    assert jan1["month_name"] == "January"
    assert jan1["day_name"] == "Monday"
    assert jan1["is_weekday"] == 1
    assert jan1["week_iso_number"] == 1
    # 2018-12-31 is a Monday in ISO week 1 of 2019
    dec31 = dd.filter(F.col("date_id") == 20181231).collect()[0]
    assert dec31["is_last_of_month"] == 1
    sat = dd.filter(F.col("date_id") == 20180106).collect()[0]
    assert sat["is_weekday"] == 0 and sat["weekday_number"] == 7
