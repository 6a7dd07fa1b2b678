"""Parallelism guards for compute-bound operators.

Spark sizes scan parallelism by BYTES (`spark.sql.files.maxPartitionBytes`),
which is right for IO-bound plans and wrong for compute-bound ones: a 5 MB
parquet file is one split, so a hash-per-shingle operator runs on one core
while the rest of the cluster idles. At 100 TB the same scan has ~10⁶
splits and a blanket `repartition()` would instead inject a full-corpus
shuffle for nothing.

`ensure_parallelism` resolves the tension: it repartitions ONLY when the
input's estimated split count is far below the cluster's parallelism — a
no-op exactly when the data is big enough not to need it, and the shuffled
bytes are small exactly when it fires. The estimate comes from the plan's
input FILES (count + local sizes vs `maxPartitionBytes`), never from
`df.rdd` — touching `.rdd` forces a physical-plan compile per call.

`submit_inheriting` is the driver-side counterpart: independent jobs
submitted from a thread pool keep the caller's job group.
"""

from __future__ import annotations

import math
import os
import re
from concurrent.futures import Executor, Future
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


_MAX_PARTITION_BYTES = "spark.sql.files.maxPartitionBytes"
#: Binary shift of each suffix of a Spark byte-size string, as
#: `JavaUtils.byteStringAsBytes` reads them; a bare number is bytes.
_BYTE_SHIFTS = {
    "": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
    "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50,
}


def _max_partition_bytes(spark) -> tuple[str, int]:
    """The raw ``maxPartitionBytes`` setting and its size in bytes
    ("64m" is 64 MiB; "134217728b" and "134217728" are 128 MiB). An
    unparseable value reads as the 128 MiB default."""
    raw = str(spark.conf.get(_MAX_PARTITION_BYTES, "134217728"))
    m = re.fullmatch(r"(\d+)([a-z]*)", raw.strip().lower())
    if m is None or m.group(2) not in _BYTE_SHIFTS:
        return raw, 128 << 20
    return raw, int(m.group(1)) << _BYTE_SHIFTS[m.group(2)]


def estimated_splits(df: DataFrame) -> int | None:
    """Estimate the scan's split count from its input files: each file
    contributes ceil(size / maxPartitionBytes) splits. Returns None when
    the estimate can't be made cheaply (non-file plan, remote filesystem)
    — callers should then leave the plan alone."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    _, max_bytes = _max_partition_bytes(df.sparkSession)
    total_splits = 0
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            # remote store: listing sizes costs RPCs; Spark's own split
            # sizing is trustworthy there (many objects, 128 MB parts)
            return None
        path = unquote(parsed.path)
        try:
            size = os.path.getsize(path)
        except OSError:
            return None
        total_splits += max(1, math.ceil(size / max_bytes))
    return total_splits


@contextmanager
def scoped_scan_split_size(spark, path: str, min_fraction: float = 0.5):
    """Temporarily shrink ``spark.sql.files.maxPartitionBytes`` so a
    compute-bound scan over a SMALL local file set (e.g. one weekly
    JSON-lines snapshot) fans out across the cluster's cores instead of
    parsing on one task (r14: the weekly 100k-listing JSON parsed
    single-threaded — `ensure_parallelism` repartitions AFTER the scan,
    which cannot parallelize the parse itself).

    Scale-adaptive, not a local constant: a no-op whenever the input
    already yields ≥ ``min_fraction × defaultParallelism`` splits (the
    real-cluster case — thousands of files at default split sizing), or
    when sizes can't be read cheaply (remote store). The shrunken split
    is derived from the input size (total / parallelism, floored at
    1 MiB so tiny inputs don't shatter), and the previous value is
    restored on exit — line-delimited JSON splits are record-safe.
    Session-scoped: use only around a driver-sequenced stage whose jobs
    should all see the shrunken value (as `pipeline.run_week` does)."""
    target = spark.sparkContext.defaultParallelism
    sizes: list[int] = []
    for dirpath, _, files in os.walk(path):
        for fname in files:
            if fname.startswith(("_", ".")):
                continue
            try:
                sizes.append(os.path.getsize(os.path.join(dirpath, fname)))
            except OSError:
                sizes = []
                break
    raw, max_bytes = _max_partition_bytes(spark)
    splits = sum(max(1, math.ceil(s / max_bytes)) for s in sizes)
    if not sizes or splits >= max(2, int(target * min_fraction)):
        yield
        return
    per = max(sum(sizes) // max(target, 1), 1 << 20)
    spark.conf.set(_MAX_PARTITION_BYTES, str(per))
    try:
        yield
    finally:
        spark.conf.set(_MAX_PARTITION_BYTES, raw)


def ensure_parallelism(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Repartition to the cluster's default parallelism iff the scan's
    estimated split count is below ``min_fraction`` of it.

    In-memory inputs (``createDataFrame``, ``spark.range``) and remote
    filesystems are a deliberate NO-OP: ``estimated_splits`` returns None
    there, so the plan is left alone. A single-partition in-memory corpus
    fed to a compute-bound operator therefore stays single-core — if that
    matters (notebook experiments), call ``df.repartition(n)`` explicitly;
    the production path is always a file scan, where the guard works.
    Perf-only semantics either way — never affects results."""
    target = df.sparkSession.sparkContext.defaultParallelism
    splits = estimated_splits(df)
    if splits is not None and splits < max(2, int(target * min_fraction)):
        return df.repartition(target)
    return df


def submit_inheriting(pool: Executor, spark: SparkSession, fn, *args) -> Future:
    """``pool.submit(fn, *args)``, with every Spark job ``fn`` starts
    carrying the calling thread's local properties (job group,
    description, scheduler pool) and session tags. PySpark keeps those
    per thread and a pool thread starts with none, so without the wrap a
    job-group count of the caller misses every job the pool runs.

    Each call copies the properties here, on the calling thread
    (`inheritable_thread_target` copies them when it wraps): one copy
    shared by concurrent pool threads would also share the SQL execution
    id each query sets in it, and one thread's jobs could land under
    another's execution."""
    return pool.submit(inheritable_thread_target(spark)(fn), *args)
