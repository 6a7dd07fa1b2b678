"""Local mirror of the driver's t2 correctness gate: run every registered
query on Spark AND its DuckDB oracle over the same parquet, compare
row count, column names, and the order-insensitive multiset of values.

Runs at sf0.001 for speed; the driver runs sf0.01 — same shape.
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb
import pytest

from manifold_spark.queries import REGISTRY, all_oracles, all_queries

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def _norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # Full precision: the driver's value-hash is exact, so the local
        # mirror must be too (9 sig figs once hid a decimal-cast rounding
        # divergence of 1e-4 on 1e8-scale sums).
        return f"{v:.17g}"
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def _oracle_names():
    return sorted(all_oracles().keys())


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(spark, sf_dir, ddb, name):
    fn = all_queries()[name]
    sdf = fn(spark, sf_dir)
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(all_oracles()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row counts differ"
    s = _rowset(spark_cols, spark_rows)
    d = _rowset(duck_cols, duck_rows)
    mism = [(a, b) for a, b in zip(s, d) if a != b][:3]
    assert s == d, f"{name}: value mismatch, first diffs: {mism}"


def test_rows_only_queries_run(spark, sf_dir):
    """Queries without an oracle still must run and return a stable schema."""
    for name, (fn, sql) in sorted(REGISTRY.items()):
        if sql is None:
            df = fn(spark, sf_dir)
            assert df.columns, name
            assert df.count() >= 0, name


def test_events_type_stats_equal_neighbour_percentile(spark, tmp_path):
    """Spark's `percentile` returns the lower order statistic as-is when
    both interpolation neighbours are equal; the oracle must too. On 19
    zeros + [225.77, 225.77], p99 sits between the two 225.77s: Spark
    gives 225.77 where DuckDB's `quantile_cont` gives
    225.76999999999998."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events AS SELECT range AS event_id,"
        " TIMESTAMP '2024-01-01 00:00:00' + range * INTERVAL 1 MINUTE AS ts,"
        " range % 3 AS user_id, 'view' AS event_type,"
        " CAST(CASE WHEN range < 19 THEN 0.0 ELSE 225.77 END AS DOUBLE) AS value,"
        " '{}' AS props FROM range(21)"
    )
    con.execute(f"COPY events TO '{tmp_path}/events.parquet' (FORMAT PARQUET)")

    sdf = all_queries()["events_type_stats"](spark, str(tmp_path))
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = con.execute(all_oracles()["events_type_stats"])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()

    (typed,) = [r for r in spark_rows if r[0] == "type"]
    assert typed[sdf.columns.index("p99")] == 225.77
    assert _rowset(list(sdf.columns), spark_rows) == _rowset(duck_cols, duck_rows)
