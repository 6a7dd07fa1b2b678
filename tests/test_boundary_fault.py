"""Executor loss against stage boundaries, under the default conf.

One subprocess runs its own two-executor ``local-cluster[2,1,1024]``
session (the fixture's ``local[4]`` session has no executor to lose)
with no boundary conf set. It builds four kinds of boundary:

- an eager pin;
- `score_docs`' LM-model boundary, materialized by one action;
- the final round of a star-contraction `dedup_components` run;
- the final round of a `train_bpe` merge loop.

Off a local master `stage_boundary` stores a second replica, so block 0
of every boundary must sit on both executors. Then ONE executor is
killed (killing the last one leaves the next job waiting for resources
forever) and every boundary must read back the rows it gave before the
kill. Losing both holders of a block still fails the job; that limit is
documented in `plans/boundary.py`, not exercised here.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.slow

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CASE = r"""
import json, sys, time

sf_dir = sys.argv[1]

from manifold_spark.operators.bpe import train_bpe
from manifold_spark.operators.dedup import dedup_components
from manifold_spark.operators.lm import score_docs
from manifold_spark.plans.boundary import _SHINGLE_CACHES, stage_boundary
from manifold_spark.session import get_spark

spark = get_spark(
    master="local-cluster[2,1,1024]",
    shuffle_partitions=4,
    extra_conf={"spark.ui.enabled": "false"},
)
jsc = spark.sparkContext._jsc.sc()


def executors():
    ids = jsc.getExecutorIds()
    return sorted(ids.apply(i) for i in range(ids.size()))


def wait_for(n):
    deadline = time.time() + 120
    while len(executors()) != n:
        if time.time() > deadline:
            raise TimeoutError(f"executors {executors()} != {n}")
        time.sleep(0.5)


def rows(df):
    return sorted(map(repr, df.collect()))


def block0_locations(boundary):
    rdd_id = boundary._jdf.queryExecution().analyzed().rdd().id()
    block = spark._jvm.org.apache.spark.storage.RDDBlockId(rdd_id, 0)
    return jsc.env().blockManager().master().getLocations(block).size()


frames, bounded = {}, {}


def build(name, make):
    # frames[name] = make(); bounded[name] = the boundaries it left
    # registered
    mark = len(_SHINGLE_CACHES)
    frames[name] = make()
    bounded[name] = [df for df, kind in _SHINGLE_CACHES[mark:] if kind == "local"]


out = {"locations": {}, "equal": {}}
try:
    wait_for(2)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    build("pin", lambda: stage_boundary(
        spark.range(0, 20000, numPartitions=8)
        .selectExpr("id", "id % 13 AS k", "hash(id) AS h"),
        eager=True,
    ))
    build("score_docs", lambda: score_docs(docs))
    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    pairs = (
        spark.range(0, 39)
        .selectExpr("id AS id_a", "id + 1 AS id_b")
        .filter("id_a % 10 != 9")
    )
    build("star_components", lambda: dedup_components(ids, pairs, backend="star"))
    build("bpe_words", lambda: train_bpe(docs, n_merges=3)[1])

    # One action per frame before the kill: it materializes the lazy
    # boundaries (the LM model, the star rounds) and records the rows.
    want = {name: rows(df) for name, df in frames.items()}
    out["locations"] = {
        name: [block0_locations(b) for b in bs] for name, bs in bounded.items()
    }
    jsc.killExecutor(executors()[0])
    wait_for(1)
    for name, df in frames.items():
        try:
            out["equal"][name] = rows(df) == want[name]
        except Exception as exc:
            out["equal"][name] = str(exc)[:2000]
finally:
    spark.stop()
print(json.dumps(out))
"""


def test_replicated_boundaries_survive_executor_loss(sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", _CASE, sf_dir],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    kinds = ("pin", "score_docs", "star_components", "bpe_words")
    # every kind registered at least one boundary, each with block 0 on
    # both executors
    locations = {k: set(v) for k, v in out["locations"].items()}
    assert locations == {k: {2} for k in kinds}, out
    assert out["equal"] == {k: True for k in kinds}, out
