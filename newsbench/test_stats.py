"""Tests of the benchmark's own metric code (no Spark needed).

    python3 -m pytest newsbench -q
"""

from __future__ import annotations

import json
import threading

import pytest

from newsbench import layers, run, stats
from newsbench.spans import DESC_PREFIX, EventLog, Span, Tracer


def test_median_odd_even_and_empty():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile(values, 99.9) == 100.0
    with pytest.raises(ValueError):
        stats.percentile(values, 0)


def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile([1.0] * 99) is None  # p90 leaves 9 beyond
    assert stats.tail_percentile([float(v) for v in range(100)]) == (90.0, 89.0)
    assert stats.tail_percentile([float(v) for v in range(1000)]) == (99.0,
                                                                       989.0)


def test_summarize_reports_sample_count():
    s = stats.summarize([2.0, 1.0, 3.0])
    assert (s.n, s.median, s.tail) == (3, 2.0, None)
    assert "n=3" in s.describe("s")


def test_self_time_subtracts_union_of_overlapping_children():
    # children [1,3] and [2,5] overlap (parallel threads); [9,12] is clipped
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (9.0, 12.0)]) \
        == pytest.approx(10.0 - 4.0 - 1.0)
    assert stats.self_time(0.0, 1.0, []) == 1.0


def test_span_self_times_from_parent_links():
    spans = [Span(1, "epoch", 0.0, 10.0),
             Span(2, "append", 1.0, 4.0, parent=1),
             Span(3, "append", 3.0, 6.0, parent=1),
             Span(4, "probe", 2.0, 3.0, parent=2)]
    selfs = layers.self_times(spans)
    assert selfs == {1: pytest.approx(5.0), 2: pytest.approx(2.0),
                     3: pytest.approx(3.0), 4: pytest.approx(1.0)}


def test_idle_time_and_busy_frac_from_task_intervals():
    tasks = [(1.0, 2.0), (1.5, 4.0), (6.0, 7.0), (-5.0, -1.0)]
    assert stats.idle_time(0.0, 10.0, tasks) == pytest.approx(10.0 - 4.0)
    assert stats.busy_frac(0.0, 10.0, tasks, cores=2) == pytest.approx(
        (1.0 + 2.5 + 1.0) / 20.0)
    assert stats.idle_time(0.0, 10.0, []) == 10.0


def test_failed_frac():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(12, 3) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(2, 3)


class FakeContext:
    """The two SparkContext calls the tracer makes, per thread."""

    def __init__(self):
        self.local = threading.local()

    def getLocalProperty(self, key):
        return getattr(self.local, "desc", None)

    def setJobDescription(self, desc):
        self.local.desc = desc


def test_tracer_parents_pool_threads_to_main_span_and_sets_description():
    sc = FakeContext()
    tr = Tracer(sc)
    seen = {}

    def worker():
        sp = tr.open("child")
        seen["desc"] = sc.getLocalProperty("spark.job.description")
        tr.close(sp)
        seen["after"] = sc.getLocalProperty("spark.job.description")

    outer = tr.open("outer")
    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    tr.close(outer)
    child = next(sp for sp in tr.spans if sp.name == "child")
    assert child.parent == outer.id
    assert seen == {"desc": f"{DESC_PREFIX}{child.id}", "after": None}
    assert sc.getLocalProperty("spark.job.description") is None


def test_event_log_attributes_tasks_to_the_stage_span(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000,
         "Properties": {"spark.job.description": f"{DESC_PREFIX}7"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 3},
         "Properties": {"spark.job.description": f"{DESC_PREFIX}7"}},
        {"Event": "org.apache.spark.sql.SomethingLarge", "plan": "x" * 100},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Launch Time": 1500, "Finish Time": 2500,
                       "Failed": False},
         "Task Metrics": {"Executor Run Time": 900, "JVM GC Time": 100,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 2048},
                          "Memory Bytes Spilled": 0,
                          "Disk Bytes Spilled": 512}},
    ]
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text(
        "\n".join(json.dumps(e, separators=(",", ":")) for e in events) + "\n")
    log = EventLog(str(tmp_path))
    log.finish()
    assert log.jobs == [1.0]
    (task,) = log.tasks
    assert (task.span, task.stage, task.start, task.end) == (7, 3, 1.5, 2.5)
    assert (task.run_s, task.gc_s, task.shuffle_bytes, task.spill_bytes) == \
        (0.9, 0.1, 2048, 512)
    assert not list(d.iterdir())  # consumed files are removed


def test_benchmark_json_lists_the_metrics_the_run_prints():
    import os

    path = os.path.join(run.ROOT, "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == \
        run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == \
        layers.PER_LAYER
