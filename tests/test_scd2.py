"""SCD2 merge semantics (reference J3/J4/D5/D6/D10) on hand-built frames."""

import datetime as dt

from pyspark.sql import functions as F
from reference_forms import scd2_merge_joins

from manifold_spark import scd2
from manifold_spark.quality import assert_dim_invariants, duplicate_active_keys
from manifold_spark.stage import with_fingerprint

SENTINEL = dt.date(9999, 12, 31)


def _base(spark, rows):
    df = spark.createDataFrame(rows, "broker string, city string")
    return with_fingerprint(df, ["broker", "city"])


def test_initial_load(spark):
    base = _base(spark, [("A", "x"), ("B", "y")])
    dim = scd2.scd2_merge(None, base, "broker_id", ["broker"], "2024-01-01")
    rows = {r["broker"]: r for r in dim.collect()}
    assert set(rows) == {"A", "B"}
    assert rows["A"]["record_start_date"] == dt.date(2024, 1, 1)
    assert rows["A"]["record_end_date"] == SENTINEL
    # deterministic surrogate keys: 1, 2 in business-key order
    assert rows["A"]["broker_id"] == 1 and rows["B"]["broker_id"] == 2


def test_merge_changed_new_unchanged(spark):
    week1 = _base(spark, [("A", "x"), ("B", "y"), ("C", "z")])
    dim1 = scd2.scd2_merge(None, week1, "broker_id", ["broker"], "2024-01-01")

    # week 2: A unchanged, B changed city, C absent, D new
    week2 = _base(spark, [("A", "x"), ("B", "y2"), ("D", "w")])
    dim2 = scd2.scd2_merge(dim1, week2, "broker_id", ["broker"], "2024-01-08")
    rows = dim2.orderBy("broker_id", "record_start_date").collect()

    by_key = {}
    for r in rows:
        by_key.setdefault(r["broker"], []).append(r)

    # A unchanged: single active row, untouched dates
    (a,) = by_key["A"]
    assert a["record_start_date"] == dt.date(2024, 1, 1) and a["record_end_date"] == SENTINEL
    # B changed: old expired at as_of-1, new active at as_of, new surrogate key
    b_old, b_new = sorted(by_key["B"], key=lambda r: r["record_start_date"])
    assert b_old["record_end_date"] == dt.date(2024, 1, 7)
    assert b_new["record_start_date"] == dt.date(2024, 1, 8)
    assert b_new["record_end_date"] == SENTINEL
    assert b_new["city"] == "y2"
    assert b_new["broker_id"] > 3  # keys continue past the initial max
    # C absent from week2: left untouched (still active)
    (c,) = by_key["C"]
    assert c["record_end_date"] == SENTINEL
    # D new: active with fresh key
    (d,) = by_key["D"]
    assert d["record_start_date"] == dt.date(2024, 1, 8) and d["record_end_date"] == SENTINEL

    assert assert_dim_invariants(dim2, ["broker"], "dim_broker") == dim2.count()


def test_merge_idempotent(spark):
    """Re-merging the same snapshot must be a no-op (hash equality)."""
    week = _base(spark, [("A", "x"), ("B", "y")])
    dim1 = scd2.scd2_merge(None, week, "broker_id", ["broker"], "2024-01-01")
    dim2 = scd2.scd2_merge(dim1, week, "broker_id", ["broker"], "2024-01-08")
    assert dim2.count() == 2
    assert dim2.filter(F.col("record_end_date") != F.lit("9999-12-31").cast("date")).count() == 0


def test_composite_keys(spark):
    df1 = spark.createDataFrame(
        [("PT", "Lisboa", "Alvalade", "h1"), ("PT", "Porto", "Ramalde", "h2")],
        "country string, county string, parish string, payload string",
    )
    base1 = with_fingerprint(df1, ["country", "county", "parish", "payload"])
    keys = ["country", "county", "parish"]
    dim1 = scd2.scd2_merge(None, base1, "geography_id", keys, "2024-01-01")

    df2 = spark.createDataFrame(
        [("PT", "Lisboa", "Alvalade", "h1-renamed"), ("PT", "Porto", "Ramalde", "h2")],
        "country string, county string, parish string, payload string",
    )
    base2 = with_fingerprint(df2, ["country", "county", "parish", "payload"])
    dim2 = scd2.scd2_merge(dim1, base2, "geography_id", keys, "2024-01-08")
    assert dim2.count() == 3
    assert duplicate_active_keys(dim2, keys).count() == 0
    changed = dim2.filter(
        (F.col("parish") == "Alvalade") & (F.col("record_end_date") == F.lit("9999-12-31").cast("date"))
    ).collect()
    assert len(changed) == 1 and changed[0]["payload"] == "h1-renamed"


def test_null_business_keys(spark):
    """Null keys must match via eqNullSafe, not multiply."""
    base1 = _base(spark, [(None, "x"), ("A", "y")])
    dim1 = scd2.scd2_merge(None, base1, "broker_id", ["broker"], "2024-01-01")
    base2 = _base(spark, [(None, "x2"), ("A", "y")])
    dim2 = scd2.scd2_merge(dim1, base2, "broker_id", ["broker"], "2024-01-08")
    null_rows = dim2.filter(F.col("broker").isNull()).collect()
    assert len(null_rows) == 2  # expired + new version
    assert duplicate_active_keys(dim2, ["broker"]).count() == 0


def test_all_null_hashes_of_a_key(spark):
    """A key whose every hash is NULL has empty per-side hash sets; the
    changed flag must evaluate without indexing into them (ANSI raises
    on an out-of-range `element_at`). NULL hashes never flag a change,
    so nothing expires or inserts — exactly the 4-join reference form."""
    old_ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        null_hash = F.lit(None).cast("string")
        week1 = _base(spark, [("A", "x"), ("B", "y")]).withColumn("hash", null_hash)
        dim1 = scd2.scd2_merge(None, week1, "broker_id", ["broker"], "2024-01-01")
        dim1 = spark.createDataFrame(dim1.collect(), dim1.schema)
        # A: NULL on both sides (twice in staging); B: NULL target only
        week2 = _base(spark, [("A", "x"), ("A", "x2"), ("B", "y")]).withColumn(
            "hash", F.when(F.col("broker") == "B", F.col("hash")).otherwise(null_hash)
        )
        merged = scd2.scd2_merge(dim1, week2, "broker_id", ["broker"], "2024-01-08")
        reference = scd2_merge_joins(
            dim1, week2, "broker_id", ["broker"], "2024-01-08"
        )
        rows = sorted(map(tuple, merged.collect()))
        assert rows == sorted(map(tuple, reference.collect()))
        assert rows == sorted(map(tuple, dim1.collect()))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old_ansi)


def test_distributed_surrogate_keys_dense_and_layout_independent(spark):
    """The distributed id scheme must produce the exact dense set
    offset+1..offset+N and assign the SAME id to the same row regardless
    of input partition layout (determinism is the whole point — a rerun
    on a different cluster must reproduce the table)."""
    rows = [(i, f"k{i % 13}") for i in range(500)]
    df1 = spark.createDataFrame(rows, "n long, g string")
    df8 = spark.createDataFrame(rows, "n long, g string").repartition(8)
    df3 = spark.createDataFrame(list(reversed(rows)), "n long, g string").repartition(3)

    out1 = scd2.assign_surrogate_keys_distributed(df1, "sk", ["g", "n"], offset=100)
    ids = sorted(r["sk"] for r in out1.collect())
    assert ids == list(range(101, 601))  # dense, offset respected

    m1 = {(r["g"], r["n"]): r["sk"] for r in out1.collect()}
    for other in (df8, df3):
        out = scd2.assign_surrogate_keys_distributed(other, "sk", ["g", "n"], offset=100)
        m = {(r["g"], r["n"]): r["sk"] for r in out.collect()}
        assert m == m1  # layout-independent assignment
