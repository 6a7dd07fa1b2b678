#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload weekly_backfill --seed 1 --seconds 24 --trace 0

Run from the repository root. Starts one local Spark session
(`local[N]`, N = usable CPUs, N shuffle partitions), runs the workload
in a closed loop for `--seconds`, checks its outputs, and prints one
JSON line: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
run also writes a Spark event log and reports the per-layer metrics
instead; a traced `curation_batch` run also runs the query probe.
Everything the run writes lives under `.perfbench_run/` in the
repository root and is removed on exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "records_per_s": "rec/s",
    "heap_alloc_mb": "MB",
}


def per_layer_spec() -> dict[str, str]:
    """Every per-layer metric name → unit, in output order."""
    from perfbench.trace import IO_METRICS, SPAN_METRICS
    from perfbench.workloads import CURATION_SPANS, CURATION_STAGES, PROBE_QUERIES, WEEK_STAGES

    spec: dict[str, str] = {}
    for s in WEEK_STAGES:
        for m, u in {**SPAN_METRICS, **IO_METRICS}.items():
            spec[f"pipeline.{s}.{m}"] = u
    for s in CURATION_SPANS:
        for m, u in SPAN_METRICS.items():
            spec[f"curation.{s}.{m}"] = u
    for s in CURATION_STAGES:
        spec[f"curation.rows.{s}"] = "count"
    for s in ("build", "execute"):
        for m, u in SPAN_METRICS.items():
            spec[f"queries.{s}.{m}"] = u
    for q in PROBE_QUERIES:
        spec[f"queries.{q}.wall_s"] = "s"
    spec.update(
        {
            "warehouse_bytes_ratio": "ratio",
            "failed_tasks": "count",
            "trace.ops": "count",
            "trace.op_s": "s",
            "trace.span_wall_s": "s",
            "trace.residual_s": "s",
        }
    )
    return spec


def start_session(workdir: str, trace: bool):
    from manifold_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        # A fixed heap, so the collector's sizing does not vary by run.
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g",
    }
    if trace:
        logdir = os.path.join(workdir, "eventlog")
        os.makedirs(logdir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + logdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        warehouse_dir=os.path.join(workdir, "spark-warehouse"),
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit (it exits when its
    stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(out) -> dict:
    return {
        "setup_s": out.setup_s,
        "op_s": statistics.median(out.op_s),
        "records_per_s": out.records / sum(out.op_s),
        "heap_alloc_mb": statistics.median(out.alloc_mb),
    }


def per_layer(out, logdir: str, gc_samples) -> dict:
    from perfbench.trace import attribute, read_event_log

    (log,) = glob.glob(os.path.join(logdir, "*"))
    with open(log) as f:
        jobs, tasks = read_event_log(f)
    spans = attribute(out.spans + out.probe_spans, jobs, gc_samples)
    values = {name: 0.0 for name in per_layer_spec()}
    for span, row in spans.items():
        for m, v in row.items():
            key = f"{span}.{m}"
            if key in values:
                values[key] = v
    for stage, n in (out.extra.get("rows") or {}).items():
        values[f"curation.rows.{stage}"] = n
    values["warehouse_bytes_ratio"] = out.extra.get("warehouse_bytes_ratio", 0.0)
    values["failed_tasks"] = sum(t.failed for t in tasks)
    span_total = sum(hi - lo for _, lo, hi in out.spans)
    op_total = sum(hi - lo for lo, hi in out.ops)
    # Too few operations per run for any tail percentile: the median and
    # the sample count it rests on.
    values["trace.ops"] = len(out.op_s)
    values["trace.op_s"] = statistics.median(out.op_s)
    values["trace.span_wall_s"] = span_total / len(out.ops)
    values["trace.residual_s"] = (op_total - span_total) / len(out.ops)
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    sys.path.insert(0, REPO)
    import manifold_spark  # noqa: F401  (fails outside a full checkout)

    from perfbench.trace import GcSampler
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    workdir = os.path.join(REPO, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    # Keep every temporary file of Python, the launcher JVM and the
    # driver JVM inside the run directory.
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    spark = None
    try:
        spark = start_session(workdir, bool(args.trace))
        run = WORKLOADS[args.workload]
        if args.trace:
            with GcSampler(spark._jvm) as gc:
                out = run(spark, workdir, args.seed, args.seconds, t_start, True)
        else:
            out = run(spark, workdir, args.seed, args.seconds, t_start, False)
        stop_session(spark)
        spark = None
        if args.trace:
            metrics = per_layer(out, os.path.join(workdir, "eventlog"), gc.samples)
            units = per_layer_spec()
        else:
            metrics = end_to_end(out)
            units = END_TO_END
        for e in out.errors:
            print(f"check failed: {e}", file=sys.stderr)
        print(
            f"{args.workload}: ops {[round(x, 2) for x in out.op_s]}, {out.extra}",
            file=sys.stderr,
        )
        result = {
            "correct": out.correct and out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
