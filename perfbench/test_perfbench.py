"""Tests of the benchmark's own code: the event-log reader and span
attributor, the summaries, the output checks and the spec. Pure Python —
no Spark session. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import random

import pytest

from perfbench import gen, trace, workloads
from perfbench.run import END_TO_END, per_layer, per_layer_spec

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
T0 = 1_700_000_000.0  # epoch seconds


def _ms(s: float) -> int:
    return int(round((T0 + s) * 1000))


def _job(job_id, submit, end, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": _ms(submit), "Stage IDs": stages},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": _ms(end)},
    ]


def _task(stage, launch, finish, run_ms=100, cpu_ns=50_000_000, shuffle=0, spill=0, read=0, written=0, ok=True):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": _ms(launch), "Finish Time": _ms(finish), "Failed": not ok},
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": written},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _log(events) -> list[str]:
    return [json.dumps(e) + "\n" for e in events] + ["\n"]


@pytest.fixture
def small_log():
    """Two spans: A = [0, 10) with jobs 0 and 1 (overlapping), B = [10, 20)
    with job 2, which reuses job 0's shuffle stage (skipped, no tasks)
    and runs past B's end. Job 3 is submitted after both spans."""
    ev = []
    ev += _job(0, 1.0, 4.0, [0, 1])
    ev += _job(1, 3.0, 6.0, [2])
    ev += _job(2, 12.0, 25.0, [1, 3])
    ev += _job(3, 30.0, 31.0, [4])
    ev += [
        _task(0, 1.1, 2.0, shuffle=2 * trace.MB),
        _task(0, 1.1, 2.0, shuffle=2 * trace.MB),
        _task(1, 2.1, 3.9, read=4 * trace.MB),
        _task(2, 3.1, 3.2),
        _task(2, 3.1, 3.2),
        _task(2, 3.1, 4.1, spill=trace.MB),  # 10x the median: skew 10
        _task(3, 12.5, 13.0, written=trace.MB),
        _task(3, 12.5, 13.0, ok=False),
        _task(4, 30.1, 30.5),
    ]
    jobs, tasks = trace.read_event_log(_log(ev))
    spans = [("A", T0 + 0.0, T0 + 10.0), ("B", T0 + 10.0, T0 + 20.0)]
    return jobs, tasks, spans


def test_reader_assigns_tasks_to_running_job(small_log):
    jobs, tasks, _ = small_log
    assert len(tasks) == 9
    assert [t.stage for t in tasks if t.failed] == [3]
    assert [len(jobs[j].tasks) for j in range(4)] == [3, 3, 2, 1]
    # stage 1 is listed by jobs 0 and 2, but its task ran under job 0
    assert all(t.stage != 1 for t in jobs[2].tasks)


def test_jobs_attributed_by_submission_time(small_log):
    jobs, _, spans = small_log
    out = trace.attribute(spans, jobs)
    assert out["A"]["jobs"] == 2 and out["A"]["tasks"] == 6
    assert out["B"]["jobs"] == 1 and out["B"]["tasks"] == 2  # job 3 is in no span
    assert out["A"]["exec_run_s"] == pytest.approx(0.6)
    assert out["A"]["exec_cpu_s"] == pytest.approx(0.3)
    assert out["A"]["shuffle_write_mb"] == pytest.approx(4.0)
    assert out["A"]["scan_mb"] == pytest.approx(4.0)
    assert out["A"]["spill_mb"] == pytest.approx(1.0)
    assert out["B"]["write_mb"] == pytest.approx(1.0)
    assert out["A"]["task_skew"] == pytest.approx(10.0)
    assert out["B"]["task_skew"] == pytest.approx(1.0)


def test_driver_time_is_span_minus_union_of_jobs(small_log):
    jobs, _, spans = small_log
    out = trace.attribute(spans, jobs)
    # A: jobs cover [1, 4] ∪ [3, 6] = [1, 6] → 5 s of 10 are job time
    assert out["A"]["wall_s"] == pytest.approx(10.0)
    assert out["A"]["driver_s"] == pytest.approx(5.0)
    # B: job 2 runs [12, 25], clipped to the span → [12, 20]
    assert out["B"]["driver_s"] == pytest.approx(2.0)


def test_union_length_clips_and_merges():
    assert trace.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert trace.union_length([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)
    assert trace.union_length([], 0, 1) == 0.0
    assert trace.union_length([(3, 4)], 0, 1) == 0.0


def test_repeated_spans_report_per_occurrence_means(small_log):
    jobs, _, _ = small_log
    spans = [("S", T0 + 0.0, T0 + 10.0), ("S", T0 + 10.0, T0 + 20.0)]
    out = trace.attribute(spans, jobs)["S"]
    assert out["n"] == 2
    assert out["wall_s"] == pytest.approx(10.0)
    assert out["jobs"] == pytest.approx(1.5)
    assert out["driver_s"] == pytest.approx(3.5)
    assert out["task_skew"] == pytest.approx(10.0)  # max, not mean


def test_gc_between_uses_step_samples():
    samples = [(T0 + 0, 1.0), (T0 + 1, 1.5), (T0 + 2, 1.5), (T0 + 3, 4.0)]
    assert trace.gc_between(samples, T0 + 0.5, T0 + 2.5) == pytest.approx(0.5)
    assert trace.gc_between(samples, T0 + 0, T0 + 3) == pytest.approx(3.0)
    assert trace.gc_between(samples, T0 - 5, T0 - 1) == 0.0


def test_weekly_ledger_matches_a_recount():
    """The generator's expected dim_asset rows equal a recount from the
    weeks it wrote: one per contract, plus one per price change between
    a contract's consecutive appearances."""
    evo = gen.WeeklyEvolution(seed=3, universe=300, mutate=0.3)
    weeks = [evo.next_week()[1] for _ in range(6)]
    last, versions = {}, 0
    for rows in weeks:
        for r in rows:
            c, p = r["ContractNumber"], r["PriceCurrencyFormated"]
            versions += c not in last or last[c] != p
            last[c] = p
    assert evo.versions == versions > len(last)
    assert evo.rows_written == sum(map(len, weeks))
    assert 0.7 < len(weeks[0]) / 300 < 0.9


def test_generators_are_seeded(tmp_path):
    a, b = gen.WeeklyEvolution(5, 50), gen.WeeklyEvolution(5, 50)
    assert [a.next_week() for _ in range(3)] == [b.next_week() for _ in range(3)]
    assert gen.WeeklyEvolution(6, 50).next_week() != gen.WeeklyEvolution(5, 50).next_week()
    gen.write_corpus(str(tmp_path / "a.parquet"), 200, seed=1)
    gen.write_corpus(str(tmp_path / "b.parquet"), 200, seed=1)
    gen.write_corpus(str(tmp_path / "c.parquet"), 200, seed=2)
    read = lambda n: (tmp_path / n).read_bytes()
    assert read("a.parquet") == read("b.parquet") != read("c.parquet")
    for seed, d in ((1, "t1"), (1, "t2"), (2, "t3")):
        gen.write_probe_tables(str(tmp_path / d), seed)
    digest = lambda d: gen.tree_digest(str(tmp_path / d))
    assert digest("t1") == digest("t2") != digest("t3")


def test_corpus_shape():
    """The sf0.1 documents shape: 5% "dup" copies, English the largest
    language, 20 sources by id, 10-100 words a doc."""
    docs = gen.make_corpus(5000)
    texts = [d[1] for d in docs]
    assert sum(t.endswith(" dup") for t in texts) == 250
    assert 0 < len(texts) - len(set(texts)) < 20
    assert 0.37 < sum(d[2] == "en" for d in docs) / 5000 < 0.43
    assert {d[3] for d in docs} == {f"src{i}" for i in range(20)}
    words = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert min(words) == 10 and max(words) == 100
    assert gen.make_corpus(300) == gen.make_corpus(300)


def test_listing_inputs_are_frozen():
    """The weekly inputs come from the package's fixture generator; the
    committed digest is what the benchmark checks before it runs."""
    assert workloads.listing_fixture_digest() == workloads.LISTING_FIXTURE_SHA256


def test_week_count_check_catches_a_lost_row():
    evo = gen.WeeklyEvolution(seed=1, universe=100)
    evo.next_week()
    good = {"presentation.fact_stock": evo.rows_written, "presentation.dim_asset": evo.versions}
    assert workloads.check_week_counts(good, evo) == []
    bad = dict(good, **{"presentation.fact_stock": evo.rows_written - 1})
    assert workloads.check_week_counts(bad, evo)


def test_curation_check_catches_a_dropped_row():
    rng = random.Random(0)
    rows = [(i, rng.choice("ab"), rng.randint(1, 9), 0, i // 4) for i in range(40)]
    expected = {"report": {"input": 40, "packed": 40}, "packed_sha256": workloads.packed_digest(rows)}
    shuffled = rows[::-1]
    assert workloads.check_curation({"input": 40, "packed": 40}, workloads.packed_digest(shuffled), expected) == []
    dropped = workloads.packed_digest(rows[1:])
    assert workloads.check_curation({"input": 40, "packed": 40}, dropped, expected)
    assert workloads.check_curation({"input": 40, "packed": 39}, workloads.packed_digest(rows), expected)


def test_query_check_catches_a_dropped_row():
    cols = ["grain", "n", "p90"]
    rows = [("type", i, 225.77 + i) for i in range(10)]
    oracle = (["p90", "grain", "n"], [(r[2], r[0], r[1]) for r in reversed(rows)])
    assert workloads.check_query("q", (cols, rows), oracle) == []
    assert workloads.check_query("q", (cols, rows[1:]), oracle)
    # floats compare exactly: a value one bit off is a mismatch
    off = [rows[0][:2] + (math.nextafter(rows[0][2], 0.0),)] + rows[1:]
    assert workloads.check_query("q", (cols, off), oracle)


def test_benchmark_json_matches_the_code():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer_spec()


def test_per_layer_report(small_log, tmp_path):
    """The traced report: span metrics by name, zeros for spans the
    workload never entered, the operation median with its sample count,
    and the residual between operation and span wall time."""
    _, _, spans = small_log
    (tmp_path / "app-1").write_text("".join(_log(
        _job(0, 1.0, 4.0, [0]) + [_task(0, 1.1, 2.0), _task(0, 1.1, 2.0, ok=False)]
    )))
    out = workloads.Outcome(setup_s=1.0, op_s=[10.0, 12.0, 11.0])
    out.spans = [("pipeline.el_staging", T0 + 0.0, T0 + 6.0), ("pipeline.fact_load", T0 + 6.0, T0 + 9.5)]
    out.ops = [(T0 + 0.0, T0 + 10.0)]
    out.probe_spans = [("queries.build", T0 + 20.0, T0 + 21.0), ("queries.topn_per_group", T0 + 20.0, T0 + 22.0)]
    out.extra["warehouse_bytes_ratio"] = 0.25
    got = per_layer(out, str(tmp_path), gc_samples=[(T0, 0.0), (T0 + 5, 0.2)])
    assert set(got) == set(per_layer_spec())
    assert got["pipeline.el_staging.jobs"] == 1 and got["pipeline.el_staging.tasks"] == 2
    assert got["pipeline.el_staging.driver_s"] == pytest.approx(3.0)
    assert got["pipeline.el_staging.gc_s"] == pytest.approx(0.2)
    assert got["pipeline.fact_load.jobs"] == 0
    assert got["curation.curate_corpus.wall_s"] == 0.0
    assert got["failed_tasks"] == 1
    assert got["trace.ops"] == 3 and got["trace.op_s"] == 11.0
    assert got["queries.build.wall_s"] == pytest.approx(1.0)
    assert got["queries.topn_per_group.wall_s"] == pytest.approx(2.0)
    assert got["trace.span_wall_s"] == pytest.approx(9.5)  # op spans only
    assert got["trace.residual_s"] == pytest.approx(0.5)
    assert got["warehouse_bytes_ratio"] == 0.25
