"""The event-log reader and span attribution, on a small recorded log."""

import os

from spans import attribute_jobs, covered, read_event_log

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "tiny_eventlog.json")


def test_reader_sums_task_metrics_per_job():
    jobs = read_event_log(LOG)
    assert [j["group"] for j in jobs] == ["span-1", "span-1", "span-2", None]
    by_id = {j["job_id"]: j for j in jobs}
    agg = by_id[0]
    assert agg["stages"] == 1 and agg["tasks"] == 2
    assert agg["shuffle_write_bytes"] == 300
    assert agg["input_bytes"] == 1000
    assert abs(agg["task_run_s"] - 0.9) < 1e-9
    assert abs(agg["task_cpu_s"] - 0.5) < 1e-9
    assert abs(agg["gc_s"] - 0.02) < 1e-9
    assert by_id[1]["shuffle_read_bytes"] == 300
    assert by_id[1]["spill_bytes"] == 64
    assert by_id[1]["python_bytes"] == 4096
    assert by_id[2]["checkpoint"] and not agg["checkpoint"]
    assert (agg["start"], agg["end"]) == (100.0, 101.5)


def test_jobs_attribute_by_group_then_by_time():
    spans = [
        {"id": "span-0", "name": "pass", "layer": "pass", "parent": None,
         "start": 99.0, "end": 110.0},
        {"id": "span-1", "name": "exec", "layer": "exec", "parent": "span-0",
         "start": 99.5, "end": 103.0},
        {"id": "span-2", "name": "construct", "layer": "queries", "parent": "span-0",
         "start": 103.0, "end": 104.5},
        {"id": "span-3", "name": "stream", "layer": "streaming", "parent": "span-0",
         "start": 104.5, "end": 109.0},
    ]
    by_span = attribute_jobs(read_event_log(LOG), spans)
    assert [j["job_id"] for j in by_span["span-1"]] == [0, 1]
    assert [j["job_id"] for j in by_span["span-2"]] == [2]
    # no job group: the innermost span open when it started
    assert [j["job_id"] for j in by_span["span-3"]] == [3]
    assert by_span["span-0"] == []


def test_covered_is_the_clipped_union():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1.0
    assert covered([], 0, 1) == 0
