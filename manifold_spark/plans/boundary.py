"""Lineage cuts and the registry that frees what the operators pin.

Every lineage cut in the package goes through `stage_boundary`: the
round loops (label propagation, star contraction, BPE merges) cut once
per round so plan depth stays constant, and the curation, LM, DSIR, ANN
and gate pins cut once so downstream plans stop re-embedding an
expensive upstream DAG. A cut is a `localCheckpoint`: zero I/O, and the
returned frame's plan is a scan of the checkpointed blocks, which have
no lineage to recompute from.

Replication rule. On a local master (``local[N]``) there is one
executor and no peer to copy to, so the cut keeps Spark's default
local-checkpoint level (disk and memory, one replica). Otherwise it
stores the same level with a second replica, so losing one executor
loses no block: later jobs read the copy on its peer
(tests/test_boundary_fault.py kills an executor on a two-executor
``local-cluster`` and reads every kind of boundary back). The limit:
losing both executors that hold a block fails every later job that
reads the frame (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).

``eager=False`` (the default) leaves the checkpoint to the first
downstream action; ``True`` materializes it here.

Release rules. The operators return lazy plans, so they cannot free
what they pin before the caller consumes it. Every tracked persist
(`_persist_tracked`) and every boundary is registered in
`_SHINGLE_CACHES`, and `_release` frees one entry by kind: a persist is
unpersisted, and a boundary's checkpointed RDD is unpersisted
(`DataFrame.unpersist()` on a checkpointed frame frees nothing). Round
loops release their previous round as soon as the next one is
materialized; everything else lives until the enclosing
`operator_cache_scope()` exits or `release_shingle_caches()` runs.
"""

from __future__ import annotations

import contextlib
import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

#: Spark's default local-checkpoint level (disk, memory, deserialized)
#: with a second replica.
_REPLICATED = StorageLevel(True, True, False, True, 2)

#: (frame, kind) for every frame the operators pin for their caller;
#: kind is "persist" or "local".
_SHINGLE_CACHES: list[tuple[DataFrame, str]] = []


def _persist_tracked(df: DataFrame) -> DataFrame:
    df = df.persist()
    _SHINGLE_CACHES.append((df, "persist"))
    return df


def stage_boundary(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df``'s lineage with a `localCheckpoint` (lazy unless
    ``eager``), replicated to a second executor unless the master is
    local. The returned frame is registered and valid until it is
    released."""
    # None keeps Spark's default level, with one replica.
    level = None if df.sparkSession.sparkContext._jsc.isLocal() else _REPLICATED
    out = df.localCheckpoint(eager=eager, storageLevel=level)
    _SHINGLE_CACHES.append((out, "local"))
    return out


def _release(df: DataFrame) -> None:
    """Drop ``df``'s (latest) registry entry and free what it pins. A
    freed boundary cannot be recomputed: it has no lineage."""
    i = max(i for i, entry in enumerate(_SHINGLE_CACHES) if entry[0] is df)
    _, kind = _SHINGLE_CACHES.pop(i)
    try:
        if kind == "persist":
            df.unpersist()
        else:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
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
