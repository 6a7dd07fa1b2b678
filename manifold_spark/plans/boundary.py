"""Stage-boundary lineage truncation with a durability switch.

r15 (VERDICT r14 #7): the LM-model and curation quality boundaries
truncate their logical plans (the r14 fix for the ~770 KB lineage that
dominated driver time), but `localCheckpoint` stores blocks on executors
with NO replication and NO recompute lineage — on a real cluster one
lost executor kills the job. The documented 100 TB fix is a durable
stage-boundary write; this helper makes the choice a configuration:

- ``local`` (default): lazy `localCheckpoint` — the right local-mode /
  bench behavior (zero I/O, same executor holds the blocks). Bench rows
  are unchanged by this module.
- ``parquet``: write-read through
  ``spark.manifold.stageBoundaryDir`` (default: the driver's
  ``tempfile.gettempdir()/manifold-stage-boundaries``, which nothing
  deletes: every boundary write stays on disk after the session ends)
  — the boundary survives executor loss and its read-back plan is a
  plain scan, so downstream lineage is equally truncated.

Set ``spark.manifold.stageBoundary=parquet`` (session conf) or
``MANIFOLD_STAGE_BOUNDARY=parquet`` (env, read at call time) for
cluster runs.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame

_CONF_MODE = "spark.manifold.stageBoundary"
_CONF_DIR = "spark.manifold.stageBoundaryDir"


def _mode(spark) -> str:
    try:
        mode = spark.conf.get(_CONF_MODE)
    except Exception:
        mode = None
    return mode or os.environ.get("MANIFOLD_STAGE_BOUNDARY", "local")


def stage_boundary(df: DataFrame, name: str) -> DataFrame:
    """Truncate ``df``'s lineage at a pipeline stage boundary.

    Local mode returns a LAZY localCheckpoint (materialized by the first
    downstream action — identical to the pre-r15 call sites). Parquet
    mode writes eagerly and returns the read-back scan; rows are
    byte-identical either way (pinned in tests/test_plans.py)."""
    spark = df.sparkSession
    if _mode(spark) != "parquet":
        return df.localCheckpoint(eager=False)
    try:
        root = spark.conf.get(_CONF_DIR)
    except Exception:
        root = None
    if not root:
        root = os.path.join(tempfile.gettempdir(), "manifold-stage-boundaries")
    path = os.path.join(root, f"{name}-{uuid.uuid4().hex[:12]}")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
