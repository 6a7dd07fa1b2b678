"""Lineage cuts and the registry that frees what the operators pin.

Every lineage cut in the package goes through `stage_boundary`: the
round loops (label propagation, star contraction, BPE merges) cut once
per round so plan depth stays constant, and the curation, LM, DSIR, ANN
and gate pins cut once so downstream plans stop re-embedding an
expensive upstream DAG. How durable the cut is is one session conf,
``spark.manifold.stageBoundary``:

- ``local`` (default): `localCheckpoint`. Zero I/O, but the blocks live
  on the executors that computed them, with no replication and no
  lineage to recompute from, so losing one of those executors fails
  every later job that reads the frame
  (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).
- ``parquet``: write the frame under ``spark.manifold.stageBoundaryDir``
  (required in this mode: a ``ValueError`` without it; on a cluster use
  a root on the shared file system, since a bare path resolves against
  ``fs.defaultFS``) and return the read-back scan. The cut survives
  executor loss and its plan is a plain scan, so lineage is equally
  truncated. The write is always eager.

``eager`` applies to local mode: ``False`` (the default) leaves the
checkpoint to the first downstream action, ``True`` materializes it
here. Rows are identical in both modes (tests/test_plans.py), and
tests/test_boundary_fault.py kills an executor on a two-executor
local-cluster to pin both sides: parquet-mode results are unchanged,
local mode raises.

Release rules. The operators return lazy plans, so they cannot free
what they pin before the caller consumes it. Every tracked persist
(`_persist_tracked`) and every boundary is registered in
`_SHINGLE_CACHES`, and `_release` frees one entry by kind: a persist is
unpersisted, a local boundary's checkpointed RDD is unpersisted
(`DataFrame.unpersist()` on a checkpointed frame frees nothing), and a
parquet boundary's directory is deleted through the Hadoop
`FileSystem`. Round loops release their previous round as soon as the
next one is materialized; everything else lives until the enclosing
`operator_cache_scope()` exits or `release_shingle_caches()` runs.
"""

from __future__ import annotations

import contextlib
import logging
import uuid

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

_CONF_MODE = "spark.manifold.stageBoundary"
_CONF_DIR = "spark.manifold.stageBoundaryDir"

#: (frame, kind, parquet path or None) for every frame the operators pin
#: for their caller; kind is "persist", "local" or "parquet".
_SHINGLE_CACHES: list[tuple[DataFrame, str, str | None]] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _SHINGLE_CACHES.append((df, "persist", None))
    return df


def stage_boundary(df: DataFrame, name: str, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage: a `localCheckpoint` (lazy unless ``eager``)
    or, in parquet mode, an eager write and its read-back scan under
    ``<stageBoundaryDir>/<name>-<uuid>``. The returned frame is
    registered and valid until it is released."""
    spark = df.sparkSession
    mode = spark.conf.get(_CONF_MODE, "local")
    if mode == "local":
        out = df.localCheckpoint(eager=eager)
        _SHINGLE_CACHES.append((out, "local", None))
        return out
    if mode != "parquet":
        raise ValueError(f"{_CONF_MODE} must be 'local' or 'parquet', got {mode!r}")
    root = spark.conf.get(_CONF_DIR, None)
    if not root:
        raise ValueError(f"{_CONF_MODE}=parquet needs {_CONF_DIR}")
    path = f"{root.rstrip('/')}/{name}-{uuid.uuid4().hex[:12]}"
    df.write.parquet(path)
    out = spark.read.parquet(path)
    _SHINGLE_CACHES.append((out, "parquet", path))
    return out


def _release(df: DataFrame) -> None:
    """Drop ``df``'s (latest) registry entry and free what it pins. A
    freed boundary cannot be recomputed: it has no lineage and its
    directory is gone."""
    i = max(i for i, entry in enumerate(_SHINGLE_CACHES) if entry[0] is df)
    _, kind, path = _SHINGLE_CACHES.pop(i)
    try:
        if kind == "persist":
            df.unpersist()
        elif kind == "local":
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        else:
            spark = df.sparkSession
            p = spark._jvm.org.apache.hadoop.fs.Path(path)
            p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(p, True)
    except Exception as exc:  # dead session / already-freed block
        _log.debug("release of a %s entry failed: %s", kind, exc)


def release_shingle_caches() -> int:
    """Release every registered frame; returns how many. Prefer
    `operator_cache_scope()` where the lifetime has a lexical scope
    (bench tiers, tests); this is the escape hatch for everything
    else."""
    n = len(_SHINGLE_CACHES)
    while _SHINGLE_CACHES:
        _release(_SHINGLE_CACHES[-1][0])
    return n


@contextlib.contextmanager
def operator_cache_scope():
    """Release every frame the operators register inside the `with`
    body on exit (success OR error), so bench loops and long-lived
    sessions cannot leak pins by forgetting `release_shingle_caches()`.
    Nestable: an inner scope releases only what was registered inside it.

    Frames built on a boundary are valid only inside the scope that
    made them: after exit, execute nothing derived from one (planning,
    e.g. reading its executed plan string, is fine). Collect or write
    results before the scope closes."""
    mark = len(_SHINGLE_CACHES)
    try:
        yield
    finally:
        while len(_SHINGLE_CACHES) > mark:
            _release(_SHINGLE_CACHES[-1][0])
