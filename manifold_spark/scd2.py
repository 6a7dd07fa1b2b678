"""Generic SCD-type-2 merge — the heart of the warehouse layer.

Reproduces the reference's expire+insert upsert
(`/root/reference/plugins/operators/dimension_operator.py:13-64,139-181`):

- J3/D5 expire: active target rows whose business key exists in staging
  with a DIFFERENT hash get ``record_end_date = as_of - 1``.
- J4/D6 insert: staging rows whose key is new OR whose hash changed are
  inserted with ``record_start_date = as_of``, ``record_end_date =
  9999-12-31`` and a fresh surrogate key.
- Keys absent from staging are left untouched (reference semantics: a
  listing missing one week is not an expiry).

Determinism (SURVEY §7 risks 2-3): surrogate keys are `row_number()` over
the business-key order offset by the current max — reproducible across
cluster layouts, unlike `identity(0,1)` / `monotonically_increasing_id` —
and the effective date is an injected ``as_of``, never wall-clock.

Scale: the joins are key-equi joins on the dimension's natural key —
dimension-sized, not fact-sized, so AQE broadcasts the smaller side. The
one serial point is the surrogate-key `row_number` over *inserted rows
only* (a single-partition window over the weekly delta, not the dim);
at extreme dim scale swap `assign_surrogate_keys` for a
zipWithIndex-per-partition scheme — the merge logic is unchanged.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from manifold_spark.schema import SCD2_SENTINEL

SCD2_COLS = ["record_start_date", "record_end_date"]


def assign_surrogate_keys(
    df: DataFrame,
    sk_col: str,
    order_by: list[str],
    offset: int = 0,
) -> DataFrame:
    """Deterministic surrogate keys: dense sequence ``offset+1 …`` by
    ``row_number()`` over a total order (replaces Redshift
    `identity(0,1)`, `sql_queries_presentation.py:11`).

    Single-partition window — correct for the weekly dimension INSERT
    delta it serves (thousands of rows); fact-sized batches use
    `assign_surrogate_keys_distributed` instead."""
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(sk_col, (F.row_number().over(w) + F.lit(offset)).cast("long"))


def assign_surrogate_keys_distributed(
    df: DataFrame,
    sk_col: str,
    order_by: list[str],
    offset: int = 0,
    n_buckets: int = 64,
) -> DataFrame:
    """Dense deterministic ids without a global single-partition sort —
    the fact-batch path (~50M rows/week at reference scale cannot funnel
    through one task).

    Rows hash into ``n_buckets`` buckets on the natural grain, get a
    ``row_number`` within their bucket (a DISTRIBUTED window: the shuffle
    partitions by bucket), and each bucket adds a starting offset equal to
    the total count of lower-numbered buckets. Ids are dense
    ``offset+1 … offset+N`` and reproducible across cluster layouts and
    reruns — bucket membership is an md5 hash of the grain, in-bucket
    order is the grain itself, and offsets derive from bucket counts. The
    global numbering interleaves buckets rather than following the grain
    order end-to-end (the price of not range-partitioning; Spark's range
    partitioner samples its boundaries, which would make ids depend on
    input layout).

    The per-bucket count pass reuses the same shuffled data (one tiny
    single-partition window over ``n_buckets`` count rows, not over data).
    """
    from manifold_spark.functions.hashing import stable_long_hash

    grain = F.concat_ws("||", *[F.col(c).cast("string") for c in order_by])
    # coalesce makes the bucket provably non-nullable (the hash never IS
    # null, but Catalyst can't see that), so the offsets join infers no
    # one-sided isnotnull filter — keeping both branches' exchanges
    # canonically equal and therefore reused, not recomputed.
    with_b = df.withColumn(
        "__sk_bucket",
        F.coalesce((stable_long_hash(grain) % n_buckets).cast("int"), F.lit(0)),
    )
    w = Window.partitionBy("__sk_bucket").orderBy(*[F.col(c) for c in order_by])
    with_rn = with_b.withColumn("__sk_rn", F.row_number().over(w))

    # Bucket sizes via max(row_number) over the SAME windowed subtree, so
    # the bucket exchange is reused (AQE ReusedExchange) instead of
    # recomputing the scan-side plan a second time for a count.
    counts = with_rn.groupBy("__sk_bucket").agg(F.max("__sk_rn").alias("__sk_n"))
    wb = Window.orderBy("__sk_bucket").rowsBetween(Window.unboundedPreceding, -1)
    starts = counts.withColumn(
        "__sk_start", F.coalesce(F.sum("__sk_n").over(wb), F.lit(0))
    ).select("__sk_bucket", "__sk_start")

    out = with_rn.join(F.broadcast(starts), "__sk_bucket")
    return out.withColumn(
        sk_col,
        (F.col("__sk_rn") + F.col("__sk_start") + F.lit(offset)).cast("long"),
    ).drop("__sk_bucket", "__sk_rn", "__sk_start")


def _as_date(value: str | dt.date) -> dt.date:
    return dt.date.fromisoformat(value) if isinstance(value, str) else value


def initial_load(
    base: DataFrame,
    sk_col: str,
    keys: list[str],
    as_of: str | dt.date,
) -> DataFrame:
    """First-ever load of a dimension: every staging row becomes active."""
    as_of = _as_date(as_of)
    payload_cols = base.columns
    out = base.withColumns(
        {
            "record_start_date": F.lit(as_of.isoformat()).cast("date"),
            "record_end_date": F.lit(SCD2_SENTINEL).cast("date"),
        }
    )
    out = assign_surrogate_keys(out, sk_col, keys)
    return out.select(sk_col, *payload_cols, *SCD2_COLS)


def scd2_merge(
    target: DataFrame | None,
    base: DataFrame,
    sk_col: str,
    keys: list[str],
    as_of: str | dt.date,
    hash_col: str = "hash",
    sk_offset: int | None = None,
) -> DataFrame:
    """Merge a staging snapshot ``base`` into SCD2 dimension ``target``,
    returning the REBUILT dimension (caller persists it — rebuild-overwrite
    on Parquet, or hand the same row-sets to Delta MERGE).

    ``base`` columns: ``keys + payload + hash``; ``target`` columns:
    ``sk_col + base.columns + record_start_date + record_end_date``.

    r15 (guide §2.4/§3): single-pass MERGE — ONE full-outer join on the
    business key routes every action, replacing the former 4-join
    structure (changed-keys inner join → semi → anti → staging left
    join; kept as `_scd2_merge_joins` for the equivalence pin). The
    output is row-identical to the old form for EVERY input, including
    duplicate-key staging rows and invariant-violating duplicate active
    rows (pinned in tests/test_scd2_properties.py):

    - the INSERT decision is per (active, staging) pair — ``t`` absent
      or hash mismatch — exactly the old left-join filter;
    - the EXPIRE decision is per KEY — the old changed-keys semi-join
      expired every active row of a key as soon as ANY (t, b) pair of
      that key mismatched. ∃(t,b): t.hash ≠ b.hash (strict !=, NULL
      hashes never flag) is a pure function of the per-key DISTINCT
      non-null hash sets T and B:  T≠∅ ∧ B≠∅ ∧ (|T|>1 ∨ |B|>1 ∨
      T[1]≠B[1]) — computed as `collect_set(hash)` windows on each side
      BEFORE the join, so no post-join shuffle is needed for the flag
      (the sets are singletons whenever the documented invariants hold);
    - each active row is emitted exactly once — staging rows are
      numbered per key BEFORE the join (``__b_rn``) and the active side
      is emitted from the ``__b_rn IS NULL OR __b_rn = 1`` pair only;
      which staging row carries rn 1 is irrelevant (only t-side columns
      and the key-level flag are emitted, so row_number ties cannot
      affect the result).

    Both sides join on ``__jk = struct(*keys)`` with PLAIN equality —
    Spark's struct comparison is null-safe per field (NULL = NULL inside
    a struct is a match, exactly `eqNullSafe`; verified incl. -0.0/0.0),
    and unlike `eqNullSafe` join conditions the single struct key lets
    the pre-join windows' hash partitioning be REUSED by the join: each
    side is exchanged exactly once (window → sort-merge join with no
    second exchange and no re-sort on the staging side).

    Plan: 2 exchanges total into the join (the old form planned four
    separate joins over the same relations), the join subtree shared by
    both output branches via exchange reuse.
    """
    if target is None:
        return initial_load(base, sk_col, keys, as_of)

    as_of = _as_date(as_of)
    payload_cols = base.columns
    as_of_lit = F.lit(as_of.isoformat()).cast("date")
    sentinel = F.lit(SCD2_SENTINEL).cast("date")

    active = target.filter(F.col("record_end_date") == sentinel)
    inactive = target.filter(F.col("record_end_date") != sentinel)

    jk = F.struct(*[F.col(k) for k in keys])
    full_frame_b = Window.partitionBy("__jk").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    b = (
        base.withColumn("__jk", jk)
        .withColumn("__b", F.lit(1))
        .withColumn(
            "__b_rn",
            F.row_number().over(
                Window.partitionBy("__jk").orderBy(F.col(hash_col))
            ),
        )
        .withColumn("__b_hs", F.collect_set(F.col(hash_col)).over(full_frame_b))
        .alias("b")
    )
    # `__t` is an infallible t-presence marker (a join output column that
    # is NULL exactly when the t side is absent): the old semi/anti pair
    # emitted EVERY active row — even a pathological NULL-sk one — so
    # presence must not be inferred from a data column.
    t = (
        active.withColumn("__jk", jk)
        .withColumn("__t", F.lit(1))
        .withColumn("__t_hs", F.collect_set(F.col(hash_col)).over(full_frame_b))
        .alias("t")
    )
    joined = t.join(b, F.col("t.__jk") == F.col("b.__jk"), "full_outer")

    # Key-level changed flag from the per-side distinct-hash sets (NULL
    # when either side is absent — `when` routes that to "untouched",
    # matching the old anti-join). `try_element_at`: an all-NULL-hash key
    # has an EMPTY set, and the size guards are conjuncts the optimizer
    # may reorder — `element_at(empty, 1)` would raise under ANSI.
    t_hs, b_hs = F.col("t.__t_hs"), F.col("b.__b_hs")
    changed = (
        (F.size(t_hs) > 0)
        & (F.size(b_hs) > 0)
        & (
            (F.size(t_hs) > 1)
            | (F.size(b_hs) > 1)
            | (F.try_element_at(t_hs, F.lit(1)) != F.try_element_at(b_hs, F.lit(1)))
        )
    )

    # Active branch: one output row per active row; expired iff the key
    # changed, otherwise carried through untouched.
    t_rows = joined.filter(
        F.col("__t").isNotNull()
        & (F.col("__b_rn").isNull() | (F.col("__b_rn") == 1))
    ).select(
        F.col(f"t.{sk_col}").alias(sk_col),
        *[F.col(f"t.{c}").alias(c) for c in payload_cols],
        F.col("t.record_start_date").alias("record_start_date"),
        F.when(changed, F.date_sub(as_of_lit, 1))
        .otherwise(F.col("t.record_end_date"))
        .alias("record_end_date"),
    )

    # Insert branch: staging rows that are brand new (no active row) or
    # pair-mismatched — per PAIR, off the pre-window join (the branch
    # does not need the flag, so it skips the window's exchange+sort).
    # `__b` (a literal marker, like `__t`) tests b-presence here so the
    # insert branch never references the row_number/collect_set windows —
    # column pruning then drops both window stacks (and their exchange)
    # from this branch's plan.
    inserts_src = joined.filter(
        F.col("__b").isNotNull()
        & (
            F.col(f"t.{sk_col}").isNull()
            | (F.col(f"t.{hash_col}") != F.col(f"b.{hash_col}"))
        )
    ).select(*[F.col(f"b.{c}").alias(c) for c in payload_cols])
    inserts = inserts_src.withColumns(
        {
            "record_start_date": as_of_lit,
            "record_end_date": sentinel,
        }
    )
    # Surrogate keys continue from the current max (driver-side scalar — one
    # tiny action over the dim's sk column only). `sk_offset` overrides it
    # when the caller merges a SUBSET of the dimension (bucketed backend)
    # but keys must stay unique table-wide.
    max_sk = (
        sk_offset
        if sk_offset is not None
        else (target.agg(F.max(sk_col)).collect()[0][0] or 0)
    )
    inserts = assign_surrogate_keys(inserts, sk_col, keys, offset=max_sk)

    ordered = [sk_col, *payload_cols, *SCD2_COLS]
    return (
        inactive.select(*ordered)
        .unionByName(t_rows.select(*ordered))
        .unionByName(inserts.select(*ordered))
    )


def _scd2_merge_joins(
    target: DataFrame | None,
    base: DataFrame,
    sk_col: str,
    keys: list[str],
    as_of: str | dt.date,
    hash_col: str = "hash",
    sk_offset: int | None = None,
) -> DataFrame:
    """The pre-r15 4-join merge, kept verbatim as the REFERENCE FORM the
    single-pass `scd2_merge` is pinned against (bit-identity on unique,
    duplicate-staging and duplicate-active inputs —
    tests/test_scd2_properties.py). Not a production path."""
    if target is None:
        return initial_load(base, sk_col, keys, as_of)

    as_of = _as_date(as_of)
    payload_cols = base.columns
    as_of_lit = F.lit(as_of.isoformat()).cast("date")
    sentinel = F.lit(SCD2_SENTINEL).cast("date")

    active = target.filter(F.col("record_end_date") == sentinel)
    inactive = target.filter(F.col("record_end_date") != sentinel)

    b = base.alias("b")
    t = active.alias("t")
    key_cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"b.{k}")) for k in keys]

    # J3: active rows whose hash changed → the expire set (identified by key;
    # the unique-active invariant makes the key a sufficient identifier).
    changed_keys = (
        t.join(b, key_cond, "inner")
        .filter(F.col(f"t.{hash_col}") != F.col(f"b.{hash_col}"))
        .select(*[F.col(f"t.{k}").alias(k) for k in keys])
    )

    # Null business keys must compare null-safely here too, or a null-keyed
    # row is never expired and the unique-active invariant breaks.
    a = active.alias("a")
    ck = changed_keys.alias("ck")
    semi_cond = [F.col(f"a.{k}").eqNullSafe(F.col(f"ck.{k}")) for k in keys]
    expired = (
        a.join(ck, semi_cond, "left_semi")
        .withColumn("record_end_date", F.date_sub(as_of_lit, 1))
    )
    untouched_active = a.join(ck, semi_cond, "left_anti")

    # J4: staging rows that are brand new (no active row) or changed.
    inserts_src = (
        b.join(t, key_cond, "left")
        .filter(
            F.col(f"t.{sk_col}").isNull()
            | (F.col(f"t.{hash_col}") != F.col(f"b.{hash_col}"))
        )
        .select(*[F.col(f"b.{c}").alias(c) for c in payload_cols])
    )
    inserts = inserts_src.withColumns(
        {
            "record_start_date": as_of_lit,
            "record_end_date": sentinel,
        }
    )
    max_sk = (
        sk_offset
        if sk_offset is not None
        else (target.agg(F.max(sk_col)).collect()[0][0] or 0)
    )
    inserts = assign_surrogate_keys(inserts, sk_col, keys, offset=max_sk)

    ordered = [sk_col, *payload_cols, *SCD2_COLS]
    return (
        inactive.select(*ordered)
        .unionByName(untouched_active.select(*ordered))
        .unionByName(expired.select(*ordered))
        .unionByName(inserts.select(*ordered))
    )


# ---------------------------------------------------------------------------
# Bucketed merge backend: row-level-merge economics on plain Parquet.
# ---------------------------------------------------------------------------

#: Partition column carrying the key-hash bucket in bucketed dimensions.
BUCKET_COL = "__kb"


def key_bucket(keys: list[str], n_buckets: int):
    """Deterministic key-hash bucket (md5-derived, layout- and engine-
    independent); coalesce makes it non-nullable for clean joins/pruning."""
    from manifold_spark.functions.hashing import stable_long_hash

    grain = F.concat_ws("||", *[F.col(k).cast("string") for k in keys])
    return F.coalesce((stable_long_hash(grain) % n_buckets).cast("int"), F.lit(0))


def scd2_merge_bucketed(
    spark,
    store,
    database: str,
    table: str,
    base: DataFrame,
    sk_col: str,
    keys: list[str],
    as_of: str | dt.date,
    hash_col: str = "hash",
    n_buckets: int = 16,
) -> None:
    """SCD2 merge that REWRITES ONLY the buckets containing changed or new
    keys — the rebuild-overwrite cost model (O(dimension) per week) drops
    to O(changed buckets), which is what a Delta/Iceberg MERGE would buy,
    on plain Parquet.

    The dimension is stored partitioned by ``__kb = hash(keys) % n_buckets``.
    Per merge: detect changed-or-new keys against the active slice (a read
    over the whole dim — reads are cheap, writes are the scale problem),
    collect their bucket ids (≤ n_buckets values), run the ordinary
    `scd2_merge` on just those buckets' rows, and swap exactly those
    partition directories in. A snapshot with zero real changes writes
    NOTHING; unchanged buckets' files stay byte-identical.

    Same merge semantics as `scd2_merge` (keys absent from staging are
    untouched), same surrogate-key sequence (offset = table-wide max).
    """
    if not store.exists(database, table):
        out = initial_load(base, sk_col, keys, as_of).withColumn(
            BUCKET_COL, key_bucket(keys, n_buckets)
        )
        store.overwrite(out, database, table, partition_by=[BUCKET_COL])
        return

    target = store.read(spark, database, table)
    sentinel = F.lit(SCD2_SENTINEL).cast("date")
    active = target.filter(F.col("record_end_date") == sentinel)

    b, t = base.alias("b"), active.alias("t")
    key_cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"b.{k}")) for k in keys]
    delta_keys = (
        b.join(t, key_cond, "left")
        .filter(
            F.col(f"t.{sk_col}").isNull()
            | (F.col(f"t.{hash_col}") != F.col(f"b.{hash_col}"))
        )
        .select(*[F.col(f"b.{k}").alias(k) for k in keys])
    )
    affected = [
        r["kb"]
        for r in delta_keys.select(key_bucket(keys, n_buckets).alias("kb"))
        .distinct()
        .collect()
    ]
    if not affected:
        return  # nothing changed: zero writes

    max_sk = target.agg(F.max(sk_col)).collect()[0][0] or 0
    tgt_sub = target.filter(F.col(BUCKET_COL).isin(affected)).drop(BUCKET_COL)
    base_sub = base.filter(key_bucket(keys, n_buckets).isin(affected))
    merged = scd2_merge(
        tgt_sub, base_sub, sk_col, keys, as_of, hash_col, sk_offset=max_sk
    )
    out = merged.withColumn(BUCKET_COL, key_bucket(keys, n_buckets))
    store.swap_partitions(out, database, table, partition_by=[BUCKET_COL])
