"""Tests of the benchmark's own logic (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import spans  # noqa: E402


def test_tail_rule_keeps_ten_samples_beyond():
    assert spans.tail_rank(10) is None
    assert spans.tail_rank(11) == 1
    assert spans.tail_rank(40) == 30
    values = [float(v) for v in range(40, 0, -1)]  # 40 samples, unsorted
    pct, value = spans.tail(values)
    assert pct == 75.0
    assert value == 30.0
    assert sum(v > value for v in values) == 10
    assert spans.tail(values[:10]) is None


def _event_log() -> list[str]:
    def task(stage, launch, finish, cpu_ns=0, read=0, shuffle=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor CPU Time": cpu_ns,
                                 "Input Metrics": {"Bytes Read": read},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                                 "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 500},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0]},
        task(0, 1000, 1100, cpu_ns=5e8, read=100),
        task(0, 1000, 1100, cpu_ns=5e8, read=100),
        task(0, 1000, 1400, read=100),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [1, 2]},
        task(1, 2500, 2600, shuffle=40),
        task(2, 2600, 2700, spill=7),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2700},
        # a later job that re-lists stage 1 (skipped) owns only stage 3
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2600,
         "Stage IDs": [1, 3]},
        task(3, 2600, 2650),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2650},
    ]
    return [json.dumps(e) for e in events]


def _spans() -> list[dict]:
    return [
        {"name": "a", "start": 0.5, "end": 2.0, "parent": None, "id": 0},
        {"name": "b", "start": 2.0, "end": 3.0, "parent": None, "id": 1},
        {"name": "b.child", "start": 2.55, "end": 2.9, "parent": 1, "id": 2},
    ]


def test_event_log_jobs():
    jobs = spans.parse_event_log(_event_log())
    assert [j["id"] for j in jobs] == [0, 1, 2]
    j0, j1, j2 = jobs
    assert (j0["submit"], j0["end"]) == (1.0, 1.5)
    assert j0["tasks"] == 3 and j0["cpu_s"] == 1.0 and j0["input_bytes"] == 300
    assert j1["tasks"] == 2 and j1["shuffle_write_bytes"] == 40 and j1["spill_bytes"] == 7
    assert j2["tasks"] == 1  # stage 1 stays with job 1
    assert spans.task_skew([j0]) == 4.0  # 300 ms / median 100 ms


def test_jobs_go_to_the_innermost_span_holding_their_submission():
    jobs = spans.parse_event_log(_event_log())
    by_span = spans.attribute(jobs, _spans())
    assert [j["id"] for j in by_span[0]] == [0]
    assert [j["id"] for j in by_span[1]] == [1]  # 2.5 s: before the child
    assert [j["id"] for j in by_span[2]] == [2]  # 2.6 s: inside the child


def test_layer_metrics_count_the_subtree_and_idle_driver_time():
    jobs = spans.parse_event_log(_event_log())
    sp = _spans()
    by_span = spans.attribute(jobs, sp)
    m = spans.layer_metrics(sp[1], sp, by_span, jobs)
    assert m["spark_jobs"] == 2 and m["tasks"] == 3
    # span b is [2.0, 3.0]; jobs run over [2.5, 2.7]
    assert abs(m["driver_s"] - 0.8) < 1e-9
    a = spans.layer_metrics(sp[0], sp, by_span, jobs)
    assert abs(a["wall_s"] - 1.5) < 1e-9 and abs(a["driver_s"] - 1.0) < 1e-9


def test_self_time_subtracts_the_union_of_children():
    parent = {"name": "p", "start": 0.0, "end": 10.0, "parent": None, "id": 0}
    kids = [
        {"name": "c1", "start": 1.0, "end": 3.0, "parent": 0, "id": 1},
        {"name": "c2", "start": 2.0, "end": 5.0, "parent": 0, "id": 2},  # overlaps c1
        {"name": "c3", "start": 7.0, "end": 8.0, "parent": 0, "id": 3},
        {"name": "g", "start": 7.2, "end": 7.5, "parent": 3, "id": 4},  # grandchild
    ]
    assert spans.self_time(parent, [parent] + kids) == 10.0 - 4.0 - 1.0
    assert abs(spans.self_time(kids[2], [parent] + kids) - 0.7) < 1e-9


def test_tracer_nests_spans():
    t = spans.Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def _pool():
    return [{"slot": slot, "query": f"q{slot}.{i}", "mode": mode, "expected": []}
            for slot, (mode, _bands) in enumerate(inputs.BLOCK) for i in range(3)]


def test_same_seed_same_inputs():
    pool = _pool()
    assert inputs.stream(pool, 7, 100) == inputs.stream(pool, 7, 100)
    assert inputs.stream(pool, 7, 100) != inputs.stream(pool, 8, 100)
    assert inputs.delta_ids(7, 2200, 200) == inputs.delta_ids(7, 2200, 200)
    assert inputs.delta_ids(7, 2200, 200) != inputs.delta_ids(8, 2200, 200)


def test_stream_mix_and_delta_shape():
    pool = _pool()
    reqs = inputs.stream(pool, 3, 200)
    modes = [pool[r["pool"]]["mode"] for r in reqs]
    assert modes.count("OR") == 120 and modes.count("AND") == 50
    assert modes.count("PHRASE") == 10 and modes.count("EXCL") == 20
    assert sum(r["offset"] == inputs.K for r in reqs) == 20
    # every seed sends the same shapes in the same order
    other = inputs.stream(pool, 4, 200)
    assert [pool[r["pool"]]["slot"] for r in reqs] == [pool[r["pool"]]["slot"] for r in other]
    delta = inputs.delta_ids(3, 2200, 200)
    assert len(set(delta)) == 200 and min(delta) >= 11 and max(delta) < 2200 - 6


def test_check_is_rank_identity():
    url_to_id = {"u1": 1, "u2": 2}
    expected = [[1, 0.5], [2, 0.25]]
    good = [{"url": "u1", "blended": 0.5 + 1e-12}, {"url": "u2", "blended": 0.25}]
    assert inputs.check(good, expected, 0, url_to_id)
    assert not inputs.check(good[::-1], expected, 0, url_to_id)
    assert not inputs.check([good[0]], expected, 0, url_to_id)
    assert not inputs.check([{"url": "u1", "blended": 0.5 + 1e-8}, good[1]],
                            expected, 0, url_to_id)
    assert inputs.check([good[1]], expected, 1, url_to_id)  # answer from an offset
    assert inputs.check([], expected, inputs.K, url_to_id)
