"""The on-disk format of the parquet versioned-state stores
(`curation.CurationState`, `operators.ann_store.AnnIndexStore`) — the
plain-parquet stand-in for a keyed Delta/Iceberg table, and the one
module that knows how a version's parts are laid out, written,
committed, read and folded:

    {state_dir}/v{n}/{part}/  delta versions  (overwrite ⇒ retry-idempotent)
    {state_dir}/s{n}/{part}/  compacted snapshots
    {state_dir}/[vs]{n}/_COMMIT
                              written LAST; records every part's layout,
                              bucket column and file schema. Readers
                              ignore uncommitted dirs, so a crashed
                              partial write never corrupts the next one.

Two part layouts:

- ``flat`` — one file, sorted by the bucket column when the part has
  one (the bucket is then a data column whose footer min/max prunes).
- ``cells`` — hive dirs ``{bucket}={value}``, one file per cell; the
  bucket column is a derived copy of a data column and is never read
  back (partition-type inference turns a '05' bucket into int 5).

What lives here: `write_version` (concurrent part writes, then the
schema-bearing marker), `read_part` (the pruned reader: leaf dirs for
cells, an ``isin`` filter for flat files, read-stat accounting) and
`fold_part` (the compaction fold's read). Every read declares the
schema the marker recorded, so no read launches a schema-inference job
and a part with no rows reads as 0 rows. A dir whose marker records no
schemas was written by an older format and fails its first read.

What stays store-local: the read HORIZON (CurationState reads
``< batch_id`` per trigger — the foreachBatch idempotence recipe;
AnnIndexStore reads everything committed), GC timing (CurationState at
`begin_batch`; AnnIndexStore after a one-append grace behind
``_FENCE``), the compaction threshold, the bucket projections, the
ANN sequence numbers, and encoding and search.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from manifold_spark.plans.parallelism import submit_inheriting

FLAT = "flat"
CELLS = "cells"


def scan_committed(state_dir: str) -> tuple[list[int], list[int]]:
    """Committed (snapshot_ids, delta_ids) under ``state_dir``,
    ascending. Uncommitted dirs and stray names are invisible (a partial
    version dir left by a crash must not break the next reader)."""
    snaps: list[int] = []
    deltas: list[int] = []
    if os.path.isdir(state_dir):
        for name in os.listdir(state_dir):
            m = re.fullmatch(r"([vs])(\d+)", name)
            if m is None:
                continue
            if not os.path.exists(os.path.join(state_dir, name, "_COMMIT")):
                continue
            (snaps if m.group(1) == "s" else deltas).append(int(m.group(2)))
    return sorted(snaps), sorted(deltas)


def write_commit_marker(root: str, parts: dict) -> None:
    """Mark ``root`` committed, recording ``parts`` ({part: {layout,
    bucket, schema}}) — ALWAYS the last step of a version write;
    everything before it is invisible to `scan_committed`."""
    with open(os.path.join(root, "_COMMIT"), "w") as f:
        json.dump(parts, f)


def _committed_parts(root: str) -> dict:
    """The part records of committed version ``root``'s marker."""
    with open(os.path.join(root, "_COMMIT")) as f:
        text = f.read()
    try:
        parts = json.loads(text)
    except ValueError:
        parts = None
    if not isinstance(parts, dict):
        raise ValueError(
            f"{root}: its _COMMIT marker records no part schemas — the "
            "dir was written by an older store format; rebuild the store"
        )
    return parts


def write_version(
    root: str,
    parts: dict[str, tuple[DataFrame, str, str | None]],
    extra_files: dict[str, str] | None = None,
) -> None:
    """Overwrite version dir ``root`` with ``parts`` ({part: (frame,
    layout, bucket column or None)}) and commit it. The part writes are
    independent jobs submitted concurrently (driver threads; Spark
    schedules them FIFO across the same executors), so a version costs
    its largest part, not the sum. ``extra_files`` ({name: text}) land
    in the dir before the marker, so they commit with it.

    A flat part with a bucket column goes through repartition(1), NOT
    coalesce(1): the frame is usually a lazy plan, and coalesce would
    collapse everything after its last exchange into the single write
    task. The round-robin shuffle keeps the upstream stage parallel; the
    single-task sort of a trigger-sized partition is noise."""
    shutil.rmtree(root, ignore_errors=True)
    records = {}
    for part, (frame, layout, bucket) in parts.items():
        fields = [
            f for f in frame.schema.fields
            if layout == FLAT or f.name != bucket
        ]
        records[part] = {
            "layout": layout,
            "bucket": bucket,
            "schema": json.loads(StructType(fields).json()),
        }

    def _write(part: str, frame: DataFrame, layout: str, bucket) -> None:
        if layout == CELLS:
            writer = frame.repartition(F.col(bucket)).write.partitionBy(bucket)
        elif bucket is not None:
            writer = frame.repartition(1).sortWithinPartitions(bucket).write
        else:
            writer = frame.coalesce(1).write
        writer.mode("overwrite").parquet(os.path.join(root, part))

    with ThreadPoolExecutor(max_workers=max(len(parts), 1)) as pool:
        futures = [
            submit_inheriting(
                pool, frame.sparkSession, _write, part, frame, layout, bucket
            )
            for part, (frame, layout, bucket) in parts.items()
        ]
        for f in futures:
            f.result()
    for name, text in (extra_files or {}).items():
        with open(os.path.join(root, name), "w") as f:
            f.write(text)
    write_commit_marker(root, records)


def read_part(
    spark: SparkSession,
    state_dir: str,
    versions: list[str],
    part: str,
    buckets: list | None = None,
    read_stats: dict | None = None,
) -> DataFrame | None:
    """``part``'s data columns across ``versions`` (dir names such as
    ``s4``/``v5``, in order); None when no version holds it.

    ``buckets`` prunes: a cells part reads only its ``{bucket}={value}``
    leaf dirs, a flat part filters its bucket column with ``isin``
    (the footer min/max prunes the scan). Without ``buckets`` every
    cell is read. All cells leaf dirs go into one read and all flat
    files into another, each declaring the schema of the first version
    that holds that layout; the bucket column is dropped either way.
    With ``read_stats``, the files/bytes read are added under
    ``{part}_files``/``{part}_bytes`` when some version holds the part
    (flat files count fully: the footer prune saves decode, not scan
    bytes)."""
    groups: dict[str, tuple[dict, list[str]]] = {}
    for v in versions:
        record = _committed_parts(os.path.join(state_dir, v)).get(part)
        if record is None:
            continue
        path = os.path.join(state_dir, v, part)
        if record["layout"] == CELLS:
            cell = f"{record['bucket']}="
            paths = (
                [
                    os.path.join(path, n)
                    for n in sorted(os.listdir(path))
                    if n.startswith(cell)
                ]
                if buckets is None
                else [
                    p
                    for p in (os.path.join(path, f"{cell}{b}") for b in buckets)
                    if os.path.isdir(p)
                ]
            )
        else:
            paths = [path]
        groups.setdefault(record["layout"], (record, []))[1].extend(paths)

    frames = []
    all_paths: list[str] = []
    for record, paths in groups.values():
        if not paths:
            continue
        all_paths += paths
        schema = StructType.fromJson(record["schema"])
        bucket = record["bucket"]
        df = spark.read.schema(schema).parquet(*paths)
        if buckets is not None and record["layout"] == FLAT:
            df = df.filter(F.col(bucket).isin(buckets))
        frames.append(df.select(*[c for c in schema.fieldNames() if c != bucket]))
    if read_stats is not None and groups:
        files, size = walk_parquet_stats(all_paths)
        read_stats[f"{part}_files"] = read_stats.get(f"{part}_files", 0) + files
        read_stats[f"{part}_bytes"] = read_stats.get(f"{part}_bytes", 0) + size
    return reduce(DataFrame.unionByName, frames) if frames else None


def fold_part(
    spark: SparkSession, state_dir: str, sources: list[str], part: str
) -> DataFrame | None:
    """The compaction fold's read: ``part`` across ``sources``, one
    `read_part` per source, unioned in source order — so each bucket's
    rows reach the snapshot in version order whatever sizes the files
    have (a multi-file read orders its splits by size). None when no
    source holds the part."""
    frames = [
        df
        for df in (read_part(spark, state_dir, [s], part) for s in sources)
        if df is not None
    ]
    return reduce(DataFrame.unionByName, frames) if frames else None


def walk_parquet_stats(dirs: list[str]) -> tuple[int, int]:
    """(files, bytes) of the parquet leaves under ``dirs`` — the pruned-
    read accounting both stores publish as flatness/pruning evidence."""
    files = 0
    size = 0
    for d in dirs:
        for dirpath, _dirnames, filenames in os.walk(d):
            for fn in filenames:
                if fn.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, fn))
    return files, size


def sweep_uncommitted(state_dir: str, below_id: int) -> None:
    """Remove CRASHED partial version dirs: ``v*``/``s*`` names lacking
    a ``_COMMIT`` marker whose id is strictly below ``below_id``. Such a
    dir can never be meaningfully retried (the caller passes the first
    id a retry could still target: the trigger id for CurationState —
    foreachBatch replays only the current trigger — or one past the
    committed horizon for AnnIndexStore), so without the sweep it leaks
    disk forever: invisible to readers, unbounded growth (ADVICE r11).
    Dirs at or above ``below_id`` are left for the owner's retry, which
    overwrites them."""
    if not os.path.isdir(state_dir):
        return
    for name in os.listdir(state_dir):
        m = re.fullmatch(r"[vs](\d+)", name)
        if (
            m
            and int(m.group(1)) < below_id
            and not os.path.exists(os.path.join(state_dir, name, "_COMMIT"))
        ):
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)
