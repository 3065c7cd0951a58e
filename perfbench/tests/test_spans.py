"""Self time, span parents across pool threads, and the event-log join."""

import json
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from spans import JOB_TAG, Span, Tracer, event_log_jobs, self_time


def test_self_time_counts_overlapping_children_once():
    parent = Span(0, "engine.apply_lines", 0.0, 10.0)
    kids = [
        Span(1, "merge.merge_upsert", 1.0, 4.0, parent=0, thread="pool-1"),
        Span(2, "merge.merge_upsert", 2.0, 6.0, parent=0, thread="pool-2"),  # overlaps 1
        Span(3, "catalog.commit_snapshot", 8.0, 9.0, parent=0),
        Span(4, "catalog.vacuum", 9.5, 12.0, parent=0),  # clipped at 10
    ]
    # covered: [1, 6] + [8, 9] + [9.5, 10] = 6.5
    assert self_time(parent, kids) == pytest.approx(3.5)
    assert self_time(parent, []) == pytest.approx(10.0)


class _FakeContext:
    """Thread-local job description, like Spark's local properties."""

    def __init__(self):
        self._local = threading.local()

    def getLocalProperty(self, key):
        return getattr(self._local, key.replace(".", "_"), None)

    def setLocalProperty(self, key, value):
        setattr(self._local, key.replace(".", "_"), value)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_pool_thread_spans_parent_to_open_top_level_span():
    tracer = Tracer(_FakeSpark())
    tracer.enabled = True
    seen = []

    def child(i):
        seen.append(tracer.sc.getLocalProperty("spark.job.description"))
        return i

    def batch():
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [pool.submit(tracer.call, "merge.merge_upsert", child, i) for i in range(3)]
            return [f.result() for f in futs]

    assert tracer.call("engine.apply_lines", batch) == [0, 1, 2]
    top = tracer.named("engine.apply_lines")[0]
    kids = tracer.named("merge.merge_upsert")
    assert [k.parent for k in kids] == [top.id] * 3
    # each pool call tagged its jobs with its own span id, then restored
    assert sorted(seen) == sorted(f"{JOB_TAG}{k.id}" for k in kids)
    assert tracer.sc.getLocalProperty("spark.job.description") is None
    assert 0 <= self_time(top, kids) <= top.duration


def test_event_log_join(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": f"{JOB_TAG}5"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 500_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 30, "Local Bytes Read": 70},
            "Output Metrics": {"Bytes Written": 9}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor CPU Time": 1}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs = event_log_jobs(str(tmp_path))
    j = jobs[0]
    assert (j["cpu_s"], j["tasks"]) == (pytest.approx(2.5), 2)
    assert (j["shuffle_read_bytes"], j["shuffle_write_bytes"]) == (100, 100)
    assert (j["spill_bytes"], j["output_bytes"]) == (7, 9)
    tracer = Tracer(_FakeSpark())
    assert list(tracer.jobs_by_span(jobs)) == [5]
