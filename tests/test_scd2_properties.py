"""Property-based SCD2 testing: ANY sequence of weekly snapshots must
preserve the dimension invariants. Hypothesis drives the snapshot
evolution; Spark jobs are expensive, so examples are few but each runs a
multi-week merge chain."""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from reference_forms import scd2_merge_joins

from manifold_spark import scd2
from manifold_spark.quality import duplicate_active_keys
from manifold_spark.schema import SCD2_SENTINEL
from manifold_spark.stage import with_fingerprint

KEYS = ["k"]

# A snapshot: mapping of key -> payload value (None payloads allowed).
snapshot = st.dictionaries(
    st.sampled_from(["a", "b", "c", "d", "e"]),
    st.one_of(st.none(), st.sampled_from(["p", "q", "r"])),
    min_size=1,
    max_size=5,
)


def _base(spark, snap: dict):
    rows = [(k, v) for k, v in sorted(snap.items())]
    df = spark.createDataFrame(rows, "k string, payload string")
    return with_fingerprint(df, ["k", "payload"])


@given(snaps=st.lists(snapshot, min_size=1, max_size=4))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_invariants_hold_for_any_snapshot_sequence(spark, snaps):
    dim = None
    seen_keys = set()
    start = dt.date(2024, 1, 1)
    for week, snap in enumerate(snaps):
        as_of = start + dt.timedelta(weeks=week)
        dim = scd2.scd2_merge(dim, _base(spark, snap), "sk", KEYS, as_of)
        # Materialize: the rebuild reads its own output in real use.
        rows = dim.collect()
        dim = spark.createDataFrame(rows, dim.schema)
        seen_keys |= set(snap)

        # Invariant 1: exactly one active row per key ever seen.
        assert duplicate_active_keys(dim, KEYS).count() == 0
        active = {
            r["k"]
            for r in rows
            if r["record_end_date"] == dt.date.fromisoformat(SCD2_SENTINEL)
        }
        assert active == seen_keys

        # Invariant 2: surrogate keys unique and dense from 1.
        sks = sorted(r["sk"] for r in rows)
        assert sks == list(range(1, len(rows) + 1))

        # Invariant 3: the active row for every key in THIS snapshot
        # carries this snapshot's payload.
        payloads = {
            r["k"]: r["payload"]
            for r in rows
            if r["record_end_date"] == dt.date.fromisoformat(SCD2_SENTINEL)
        }
        for k, v in snap.items():
            assert payloads[k] == v

        # Invariant 4: expired rows end strictly before their successor
        # starts, and validity windows never overlap per key.
        by_key = {}
        for r in rows:
            by_key.setdefault(r["k"], []).append(r)
        for k, versions in by_key.items():
            versions.sort(key=lambda r: r["record_start_date"])
            for prev, nxt in zip(versions, versions[1:]):
                assert prev["record_end_date"] < nxt["record_start_date"]


# ---------------------------------------------------------------------------
# r15 single-pass MERGE pin: the full-outer-join `scd2_merge` must produce
# EXACTLY the rows of the pre-r15 4-join reference form `scd2_merge_joins`
# — on well-formed inputs AND on the pathological ones the old code
# tolerated (duplicate staging keys, invariant-violating duplicate active
# rows). Surrogate keys for DUPLICATE-key insert groups are tie-broken by
# row_number over an equal-key order in both forms, so the payload→sk
# mapping inside such a group is not pinned; everything else is.
# ---------------------------------------------------------------------------


def _rows_sorted(df, drop_sk=None):
    cols = [c for c in df.columns if c != drop_sk]
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _assert_merge_equivalent(spark, target, base, sk, keys, as_of, unique=True):
    new = scd2.scd2_merge(target, base, sk, keys, as_of)
    old = scd2_merge_joins(target, base, sk, keys, as_of)
    if unique:
        assert _rows_sorted(new) == _rows_sorted(old)
    else:
        # duplicate-key groups: rows (minus sk) and the sk sequence are
        # each pinned; the pairing inside an equal-key tie is not.
        assert _rows_sorted(new, drop_sk=sk) == _rows_sorted(old, drop_sk=sk)
        assert sorted(r[sk] for r in new.collect()) == sorted(
            r[sk] for r in old.collect()
        )


def test_single_pass_merge_equals_joins_form_unique_keys(spark):
    w1 = _base(spark, {"a": "p", "b": "q", "c": None})
    dim = scd2.scd2_merge(None, w1, "sk", KEYS, "2024-01-01")
    dim = spark.createDataFrame(dim.collect(), dim.schema)
    # a unchanged, b changed, c absent, d new
    w2 = _base(spark, {"a": "p", "b": "r", "d": "q"})
    _assert_merge_equivalent(spark, dim, w2, "sk", KEYS, "2024-01-08")


def test_single_pass_merge_equals_joins_form_duplicate_staging(spark):
    w1 = _base(spark, {"a": "p", "b": "q"})
    dim = scd2.scd2_merge(None, w1, "sk", KEYS, "2024-01-01")
    dim = spark.createDataFrame(dim.collect(), dim.schema)
    # staging with DUPLICATE keys: a twice with different payloads (one
    # matching the active hash, one not), b twice with the same changed
    # payload, e twice brand-new — the old per-pair insert fan-out and
    # the key-level expire must both be replicated.
    rows = [("a", "p"), ("a", "z"), ("b", "r"), ("b", "r"), ("e", "x"), ("e", "y")]
    df = spark.createDataFrame(rows, "k string, payload string")
    w2 = with_fingerprint(df, ["k", "payload"])
    _assert_merge_equivalent(spark, dim, w2, "sk", KEYS, "2024-01-08", unique=False)


def test_single_pass_merge_equals_joins_form_duplicate_active(spark):
    # Invariant-VIOLATING target: two active rows for key 'a' (one whose
    # hash matches staging, one not) plus an expired historical row. The
    # old form expired BOTH active rows of a key once any pair
    # mismatched; the rewrite must reproduce that exactly.
    import datetime as _dt

    base_rows = [("a", "p"), ("a", "q"), ("b", "s")]
    df = spark.createDataFrame(base_rows, "k string, payload string")
    hashed = with_fingerprint(df, ["k", "payload"])
    tgt = hashed.select(
        (F.monotonically_increasing_id() + 1).alias("sk"),
        "k",
        "payload",
        "hash",
        F.lit("2024-01-01").cast("date").alias("record_start_date"),
        F.lit(SCD2_SENTINEL).cast("date").alias("record_end_date"),
    )
    hist = spark.createDataFrame(
        [(99, "b", "old", "deadbeef", _dt.date(2023, 1, 1), _dt.date(2023, 12, 31))],
        tgt.schema,
    )
    tgt = spark.createDataFrame(tgt.collect(), tgt.schema).unionByName(hist)
    w2 = _base(spark, {"a": "p", "b": "s", "c": "n"})
    _assert_merge_equivalent(spark, tgt, w2, "sk", KEYS, "2024-01-08", unique=False)


def test_single_pass_merge_equals_joins_form_null_keys(spark):
    # NULL business keys must merge null-safely in both forms.
    rows1 = [(None, "p"), ("a", "q")]
    df1 = spark.createDataFrame(rows1, "k string, payload string")
    w1 = with_fingerprint(df1, ["k", "payload"])
    dim = scd2.scd2_merge(None, w1, "sk", KEYS, "2024-01-01")
    dim = spark.createDataFrame(dim.collect(), dim.schema)
    rows2 = [(None, "CHANGED"), ("a", "q"), ("b", "new")]
    df2 = spark.createDataFrame(rows2, "k string, payload string")
    w2 = with_fingerprint(df2, ["k", "payload"])
    _assert_merge_equivalent(spark, dim, w2, "sk", KEYS, "2024-01-08")
