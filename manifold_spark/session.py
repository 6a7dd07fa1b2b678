"""SparkSession factory.

Replaces the reference's session + S3 wiring
(`/root/reference/scripts/el_to_parquet.py:17-38`) with a local-or-cluster
factory; S3A credentials are plain confs
(`extra_conf={"spark.hadoop.fs.s3a.access.key": …}`). Scale posture: AQE
on (runtime coalescing + skew-join splitting), Arrow transfer on for the
few Pandas-UDF paths, UTC session time so date semantics are
deterministic across cluster timezones.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: Configs every session gets unless explicitly overridden. These are the
#: settings that matter at 100 TB: AQE re-plans joins/partitions at runtime,
#: skew-join splits hot keys, coalescing removes tiny post-shuffle tasks.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Listing dims are broadcast-sized even at 100 TB fact scale; raise the
    # auto-broadcast threshold a bit above the 10 MB default.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # The SQL status store retains up to 1000 executions BY DEFAULT —
    # each holding its full physical-plan description STRING. Composed
    # pipelines over persisted stage boundaries print every
    # InMemoryRelation's child subtree per reference, so one curation
    # action's description measures ~67 MB; at the default retention a
    # long-lived driver OOMs on plan strings alone (observed: heap OOM
    # in back-to-back curation runs on a 4g test JVM). Diagnostics-only
    # retention — no semantic or plan effect.
    "spark.sql.ui.retainedExecutions": "16",
    # r10 companion to the retention cap: nested cached compositions
    # re-print InMemoryRelation subtrees once PER REFERENCE, so a deep
    # persist chain's plan description grows multiplicatively with
    # nesting depth — measured ~40-90 s of DRIVER time and multi-GB of
    # retained strings PER ACTION in the streaming-curation sink before
    # the cap. 2M chars (~4 MB) is far more than any human-readable
    # diagnostic needs; truncation affects only display strings, never
    # the executed plan.
    "spark.sql.maxPlanStringLength": "2000000",
    # Generated classes kept by the JVM-wide whole-stage codegen LRU
    # (Spark's default is 100). A warm call needs more distinct classes
    # than that, so at 100 it evicts its own classes and recompiles
    # them every time; evicted classes also never live long enough for
    # the JIT to warm them. Compiles per call (local[4], 4 vCPU;
    # perfbench inputs, bench.py's headline queries at sf0.01):
    #
    #   call                            classes used   at 100   at 1000
    #   run_week, one warm week                 ~210  185-191     10-16
    #   curate_corpus, warm                     ~190  169-183      0-12
    #   headline pass, 15 queries, warm         ~300  310-329      0-24
    #   tier-1 test session, whole run        <=4700     7915      4704
    #
    # 1000 holds the three working sets together with room to spare.
    # The conf is static: it is read at the JVM's first codegen, so a
    # session reused through getOrCreate keeps the size it started
    # with, and on a cluster every executor JVM has its own cache. The
    # gain is measured in local mode and not claimed for a cluster.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def get_spark(
    app_name: str = "manifold-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master=None`` defers to the environment (spark-submit / existing
    session); tests pass ``local[N]`` and a small ``shuffle_partitions``.
    """
    # Python workers (mapInPandas / applyInPandasWithState) are separate
    # processes that inherit PYTHONPATH, NOT the driver's sys.path — a
    # script that did `sys.path.insert(0, repo)` would run every JVM-side
    # query fine and then fail only on Arrow-UDF operators with
    # "ModuleNotFoundError: manifold_spark". Exporting the package root
    # before the first session launch makes the factory location-proof.
    # (On a real cluster, ship the package via --py-files/pex instead.)
    import os
    import sys

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # Mutate process state only when a session is actually being CREATED —
    # repeated get_spark calls against a live session must not keep
    # re-writing os.environ (the var outlives the session and leaks into
    # unrelated subprocesses). An active session already launched its
    # workers with whatever PYTHONPATH it got.
    if SparkSession.getActiveSession() is None:
        existing = os.environ.get("PYTHONPATH", "")
        if pkg_root not in existing.split(os.pathsep):
            os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + existing if existing else "")
        if pkg_root not in sys.path:
            sys.path.insert(0, pkg_root)

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if warehouse_dir is not None:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
