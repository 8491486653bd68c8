"""Helpers of the benchmark: percentiles, span self time, job
attribution, event-log parsing and the compare verdict. No Spark."""

import json
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

import stats
from compare import verdict
from spans import Span, Tracer, attribute, read_event_log, self_time, union_length


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(1000) == 99.0
    assert stats.tail_percentile(200) == 95.0
    assert stats.tail_percentile(100) == 90.0
    assert stats.tail_percentile(99) == 75.0
    assert stats.tail_percentile(40) == 75.0
    assert stats.tail_percentile(20) == 50.0
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(1000, wanted=90) == 90.0


def test_describe_reports_sample_count_and_tail():
    d = stats.describe([float(i) for i in range(1, 101)])
    assert d["n"] == 100 and d["p50"] == 50.5 and d["mean"] == 50.5
    assert d["tail_p"] == 90.0 and d["tail"] == pytest.approx(90.1)
    few = stats.describe([1.0, 2.0, 3.0])
    assert few == {"n": 3, "mean": 2.0}


def test_quartiles_match_statistics_quantiles():
    q1, med, q3 = stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
    assert (q1, med, q3) == (2.75, 5.5, 8.25)
    assert stats.spread([10.0, 10.0, 10.0]) == 0.0


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", parent, "r", start, end)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert union_length([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    root = _span(0, 0.0, 10.0)
    spans = [root, _span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0),
             _span(3, 2.0, 3.0, 1), _span(4, 7.0, 8.0, 0)]
    assert self_time(root, spans) == pytest.approx(10 - 4 - 1)
    assert self_time(spans[1], spans) == pytest.approx(3 - 1)
    assert self_time(spans[4], spans) == pytest.approx(1)


def test_attribution_picks_innermost_span_containing_submission():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 2.0, 3.0, 1),
             _span(3, 5.0, 6.0, 0)]
    owner = attribute({"a": 2.5, "b": 1.5, "c": 5.0, "d": 9.0, "e": 11.0}, spans)
    assert owner == {"a": 2, "b": 1, "c": 3, "d": 0, "e": None}


def test_attribution_covers_jobs_submitted_from_pool_threads():
    """Jobs an operation submits from its own thread pool carry no span
    of theirs; their submission time still falls inside the caller's."""
    tr = Tracer("t")
    submitted = {}

    def job(i):
        time.sleep(0.01)
        submitted[f"pool-{i}"] = time.time()

    with tr.span("op"):
        with tr.span("build"):
            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(job, range(3)))
        with tr.span("exec"):
            submitted["main"] = time.time()
    submitted["after"] = time.time() + 1
    owner = attribute(submitted, tr.spans)
    names = {k: (tr.spans[v].name if v is not None else None) for k, v in owner.items()}
    assert names == {"pool-0": "build", "pool-1": "build", "pool-2": "build",
                     "main": "exec", "after": None}


def test_tracer_keeps_one_stack_per_thread():
    tr = Tracer("t")

    def worker():
        with tr.span("worker"):
            pass

    with tr.span("main"):
        with ThreadPoolExecutor(1) as pool:
            pool.submit(worker).result()
        with tr.span("child"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["worker"].parent is None
    assert by_name["child"].parent == by_name["main"].id


def test_read_event_log_totals_tasks_per_job(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Attempt": 0},
         "Task Metrics": {"Executor CPU Time": 4 * 10**8, "Memory Bytes Spilled": 5,
                          "Disk Bytes Spilled": 6,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                          "Output Metrics": {"Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1600, "Finish Time": 1700, "Attempt": 1},
         "Task Metrics": {"Executor CPU Time": 10**8}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2]},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    j0, j1 = read_event_log(str(p))
    assert (j0.tasks, j0.retried, j0.shuffle_bytes, j0.spill_bytes, j0.output_bytes) == \
        (2, 1, 100, 11, 7)
    assert j0.task_cpu_s == pytest.approx(0.5)
    assert j0.intervals == [(1.0, 1.5), (1.6, 1.7)]
    assert (j1.job_id, j1.submit, j1.tasks) == (1, 2.0, 0)


def test_verdicts():
    base = {s: 10.0 + 0.1 * (s % 3) for s in range(10)}
    faster = {s: v * 0.8 for s, v in base.items()}
    slower = {s: v * 1.3 for s, v in base.items()}
    assert verdict(base, faster, 0.1, True) == "better"
    assert verdict(base, slower, 0.1, True) == "worse"
    assert verdict(base, dict(base), 0.1, True) == "unchanged"
    noisy = {s: (5.0 if s % 2 else 15.0) for s in range(10)}
    assert verdict(base, noisy, 0.1, True) == "unresolved"
    assert verdict(base, faster, 0.1, False) == "worse"
