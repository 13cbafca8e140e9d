import json
import threading

import pytest

import spans
from spans import Span


def test_covered_merges_overlapping_intervals():
    assert spans.covered([]) == 0.0
    assert spans.covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert spans.covered([(1, 2), (0, 10)]) == pytest.approx(10.0)


def test_self_time_subtracts_the_union_of_direct_children():
    tree = [
        Span(0, "iteration", 0.0, 10.0, None),
        Span(1, "dequeue", 1.0, 4.0, 0),
        # two writes overlapping each other: counted once
        Span(2, "write.seen", 5.0, 8.0, 0),
        Span(3, "write.results", 6.0, 9.0, 0),
        # grandchild: charged to its own parent only
        Span(4, "nested", 2.0, 3.0, 1),
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_child_outside_parent_is_clipped():
    tree = [Span(0, "p", 0.0, 5.0, None), Span(1, "c", 4.0, 7.0, 0)]
    assert spans.self_times(tree)[0] == pytest.approx(4.0)


def test_tracer_parents_nesting_and_pool_threads(tmp_path):
    tr = spans.Tracer()
    with tr.span("off"):
        pass
    assert tr.spans == []
    tr.enabled = True
    tr.begin("iteration")
    with tr.span("action"):
        with tr.span("inner"):
            pass

    def write():
        with tr.span("write"):
            pass

    worker = threading.Thread(target=write)
    worker.start()
    worker.join()
    tr.end()
    tr.end()  # nothing open: no-op
    by = {s.name: s for s in tr.spans}
    assert by["iteration"].parent is None
    assert by["action"].parent == by["iteration"].id
    assert by["inner"].parent == by["action"].id
    # a pool thread's span hangs off the span open on the main thread
    assert by["write"].parent == by["iteration"].id
    out = tmp_path / "spans.json"
    tr.dump(str(out))
    rows = json.loads(out.read_text())
    assert {r["name"] for r in rows} == {"iteration", "action", "inner", "write"}
    assert all(r["self"] >= 0 for r in rows)


def test_event_log_totals_filters_by_job_submission_window(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9_000, "Stage IDs": [2]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        {
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Metrics": {
                "Executor Run Time": 1500, "JVM GC Time": 100,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
            },
        },
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 999}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    t = spans.event_log_totals(str(tmp_path), [(0.5, 2.0)])
    assert t == {
        "jobs": 1, "stages": 1, "tasks": 1, "executor_run_s": 1.5, "gc_s": 0.1,
        "shuffle_read_bytes": 3, "shuffle_write_bytes": 7, "spill_bytes": 7,
    }


def test_loop_action_lines_exist_in_the_crawl_loop():
    """The traced run names the loop's driver actions by their source line;
    a refactor of crawl/loop.py that moves them must update LOOP_ACTIONS."""
    import inspect

    from nightcrawler_ds_pipeline_spark.crawl import loop

    lines = {ln.split("#")[0].strip() for ln in inspect.getsource(loop).splitlines()}
    for _, line in spans.LOOP_ACTIONS:
        assert line in lines, line
