"""Streaming SCD2: continuous dimension maintenance from a listing stream.

The weekly batch pipeline becomes continuous by driving the SAME
`scd2_merge` from `foreachBatch`: each micro-batch is a mini "week" —
clean → stage → merge → overwrite, with the batch's snapshot date as the
`as_of`. Exactly the Kappa-style upgrade path the engine was shaped for:
zero new merge logic, the streaming runtime only supplies batching and
restart semantics (checkpointed offsets → each batch re-applies
idempotently because `scd2_merge` is a no-op for unchanged hashes).

Scale: state lives in the dimension table itself (rebuild-overwrite at
dim scale per batch); the stream never holds dimension state in memory.
For very hot dims, widen the trigger interval — merge cost is per-batch,
not per-event.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from manifold_spark import clean, scd2, stage
from manifold_spark.catalog import TableStore
from manifold_spark.schema import (
    DIM_KEYS,
    LISTING_SCHEMA,
    STAGING_COLUMNS,
    SURROGATE_KEYS,
)


def merge_batch(
    store: TableStore,
    raw_batch: DataFrame,
    as_of: str | dt.date,
    dims: dict[str, str] | None = None,
) -> None:
    """Apply one micro-batch of raw listings to the SCD2 dimensions —
    shared by the streaming sink and any batch backfill."""
    dims = SURROGATE_KEYS if dims is None else dims
    if raw_batch.isEmpty():
        return
    spark = raw_batch.sparkSession
    cleaned = clean.clean_listings(raw_batch).cache()
    try:
        for dim_name, sk_col in dims.items():
            base = stage.stage_dimension(
                cleaned,
                STAGING_COLUMNS[dim_name],
                unique_keys=DIM_KEYS[dim_name],
            )
            target = (
                store.read(spark, "presentation", dim_name)
                if store.exists("presentation", dim_name)
                else None
            )
            merged = scd2.scd2_merge(target, base, sk_col, DIM_KEYS[dim_name], as_of)
            store.overwrite(merged, "presentation", dim_name)
    finally:
        cleaned.unpersist()


def scd2_stream(
    spark: SparkSession,
    source_path: str,
    store: TableStore,
    checkpoint_dir: str,
    as_of_fn=None,
):
    """Attach the SCD2 merge to a streaming JSON listing source.
    ``as_of_fn(batch_id) -> date`` injects deterministic effective dates
    (tests); the default is the UTC wall clock (the engine pins UTC
    everywhere — `date.today()` would follow the host timezone and stamp
    a different effective date near midnight). Replay caveat: a
    checkpoint-recovery re-application of a batch on a LATER day stamps
    that later date; inject an event-time-derived ``as_of_fn`` where
    replayed batches must reproduce their original effective dates.
    Returns the started StreamingQuery."""
    as_of_fn = as_of_fn or (
        lambda batch_id: dt.datetime.now(dt.timezone.utc).date()
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch(store, batch_df, as_of_fn(batch_id))

    stream = spark.readStream.schema(LISTING_SCHEMA).json(source_path)
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
