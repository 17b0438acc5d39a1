"""Fast self-test of the benchmark harness (no Spark):

    python3 -m pytest -q perfbench/test_harness.py

Covers the tail-percentile rule, the self-time arithmetic, event-log
parsing, that every named metric is emitted, and that BENCHMARK.json lists
exactly the metrics the harness emits.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.harness import Span, Tracer, innermost_span, parse_event_log, self_times, tail
from perfbench.metrics import E2E, PER_LAYER, QUERIES, end_to_end, per_layer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    samples = [float(i) for i in range(1, 31)]  # 1..30
    value, pct, n = tail(samples)
    assert n == 30
    assert value == 20.0  # ten samples (21..30) lie beyond it
    assert sum(s > value for s in samples) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_falls_back_to_max_below_twenty_samples():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(19)])[0] == 18.0
    assert tail([float(i) for i in range(20)])[0] == 9.0


def _span(i, start, end, parent):
    return Span(i, f"s{i}", start, parent, None, end=end)


def test_self_time_subtracts_children_once_and_clips_them():
    spans = [
        _span(0, 0.0, 10.0, None),
        _span(1, 1.0, 4.0, 0),
        _span(2, 3.0, 6.0, 0),   # overlaps span 1: union of 1 and 2 is 1..6
        _span(3, 9.0, 12.0, 0),  # runs past its parent: only 9..10 counts
        _span(4, 1.5, 2.0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)
    assert st[1] == pytest.approx(3 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_nested_self_times_sum_to_root_wall():
    clock = iter(range(100)).__next__
    tr = Tracer(clock=clock)
    with tr.span("a"):
        with tr.span("b"):
            pass
        with tr.span("c"):
            with tr.span("d"):
                pass
    tr.close()
    st = self_times(tr.spans)
    assert sum(st.values()) == pytest.approx(tr.root.end - tr.root.start)
    assert [s.parent for s in tr.spans] == [None, 0, 1, 1, 3]


def test_jobs_attach_to_innermost_span():
    ids = iter(range(100)).__next__
    tr = Tracer(job_ids=ids)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.close()
    inner = tr.spans[2]
    assert innermost_span(tr.spans, inner.job_lo).name == "inner"
    assert innermost_span(tr.spans, tr.spans[1].job_lo).name == "outer"


def _event_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 7, "Stage IDs": [3]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 120, "Executor CPU Time": 5_000_000,
                          "JVM GC Time": 4,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Executor Run Time": 30}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3, "Accumulables": [
            {"Name": "time to run Python workers", "Value": "250"},
            {"Name": "data sent to Python workers", "Value": 4096}]}},
    ]
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_sums_per_job(tmp_path):
    p = tmp_path / "log"
    _event_log(p)
    j = parse_event_log(str(p))[7]
    assert (j["tasks"], j["tasks_failed"], j["run_ms"]) == (2, 1, 150)
    assert (j["shuffle_write"], j["shuffle_read"]) == (10, 3)
    assert (j["python_worker_run_ms"], j["python_bytes_sent"]) == (250, 4096)


def test_every_named_metric_is_emitted():
    ids = iter(range(1000)).__next__
    tr = Tracer(job_ids=ids)
    with tr.span("session.start"):
        pass
    with tr.span("job.run") as sp:
        with tr.span("manifest.done_keys"):
            pass
    sp.attrs.update(phases={"init": 0.1, "tier_1m_count": 0.2}, turns=10, units_done=1)
    with tr.span("serving.query_range", fill="locf") as sp:
        pass
    sp.attrs.update(rows=3, files=2)
    tr.close()
    stats = {"gorilla.encode_many_points_per_s": 1.0, "gorilla.encode_points_per_s": 1.0,
             "gorilla.decode_many_points_per_s": 1.0, "gorilla.chunks": 2, "gorilla.points": 10,
             "gorilla.bytes_raw": 160, "gorilla.bytes_enc": 40}
    ops = [{"kind": "ingest", "wall": 1.5, "ok": True, "turns": 10}]
    jobs = {3: {"tasks": 1, "tasks_failed": 0, "run_ms": 1, "cpu_ns": 1, "gc_ms": 0,
                "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "python_worker_boot_ms": 0,
                "python_worker_run_ms": 0, "python_bytes_sent": 0, "python_bytes_returned": 0}}
    layer = per_layer(tr, jobs, stats, ops, {q: 0.1 for q in QUERIES})
    assert set(layer) == {n for n, _ in PER_LAYER}
    assert layer["job.spark_jobs"] == 1
    e2e, info = end_to_end(ops, stats, setup_s=2.0, peak_pss_mb=100.0)
    assert set(e2e) == {n for n, *_ in E2E}
    assert e2e["compression_ratio"] == 4.0 and info["op_samples"] == 1
    assert len(QUERIES) == 43 and len(set(QUERIES)) == 43


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == E2E
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
