"""Tests for the benchmark's own arithmetic and bookkeeping.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, spark_counters  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- tail eligibility ------------------------------------------------------
def test_tail_needs_twenty_samples():
    assert stats.tail([float(i) for i in range(19)]) is None


def test_tail_at_twenty_leaves_ten_beyond():
    xs = [float(i) for i in range(1, 21)]
    value, pct, beyond = stats.tail(xs)
    assert (value, pct, beyond) == (10.0, 50.0, 10)
    assert sum(1 for x in xs if x > value) == 10


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(100, 0, -1)]  # unsorted input
    value, pct, beyond = stats.tail(xs)
    assert value == 90.0 and pct == 90.0 and beyond == 10
    assert sum(1 for x in xs if x > value) == 10
    # one rank higher would leave only nine beyond
    assert sum(1 for x in xs if x > 91.0) == 9


def test_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, med, q3, sp = stats.spread(xs)
    assert med == 14.5
    assert sp == pytest.approx((q3 - q1) / 14.5)


# -- self time ---------------------------------------------------------------
def test_self_time_subtracts_union_of_children():
    # children overlap each other ([1,3] and [2,5] cover [1,5] once) and
    # one sticks out of the parent ([8,12] counts only up to 10)
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0), (8.0, 12.0)]) == 4.0


def test_self_time_without_children_is_duration():
    assert stats.self_time(2.0, 7.5, []) == 5.5


def test_self_time_ignores_children_outside():
    assert stats.self_time(0.0, 1.0, [(2.0, 3.0)]) == 1.0


def test_union_length_nested_and_disjoint():
    assert stats.union_length([(0, 10), (2, 3), (20, 25)]) == 15


# -- /proc/<pid>/io deltas ------------------------------------------------------------
IO_BEFORE = "rchar: 100\nwchar: 2000\nsyscr: 3\nsyscw: 4\nread_bytes: 0\nwrite_bytes: 4096\n"
IO_AFTER = "rchar: 150\nwchar: 2000000\nsyscr: 9\nsyscw: 8\nread_bytes: 0\nwrite_bytes: 8192\n"


def test_parse_proc_io():
    assert stats.parse_proc_io(IO_BEFORE)["wchar"] == 2000


def test_wchar_delta():
    assert stats.wchar_delta(IO_BEFORE, IO_AFTER) == 2000000 - 2000


def test_rchar_delta():
    assert stats.rchar_delta(IO_BEFORE, IO_AFTER) == 50


def test_wchar_delta_rejects_other_process():
    with pytest.raises(ValueError):
        stats.wchar_delta(IO_AFTER, IO_BEFORE)


def test_wchar_delta_of_this_process():
    with open(f"/proc/{os.getpid()}/io") as f:
        before = f.read()
    with open(os.devnull, "w") as sink:
        sink.write("x" * 100_000)
        sink.flush()
    with open(f"/proc/{os.getpid()}/io") as f:
        after = f.read()
    assert stats.wchar_delta(before, after) >= 100_000


# -- spans -------------------------------------------------------------------
class _Target:
    def outer(self):
        time.sleep(0.002)
        return self.inner()

    def inner(self):
        time.sleep(0.004)
        return 7


def test_wrapped_calls_record_nested_spans():
    tr = Tracer()
    tr.wrap(_Target, "outer", "layer.outer")
    tr.wrap(_Target, "inner", "layer.inner")
    try:
        with tr.operation("read") as op:
            assert _Target().outer() == 7
    finally:
        tr.unwrap_all()
    outer, = tr.by_name("layer.outer")
    inner, = tr.by_name("layer.inner")
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == outer["op"] == op
    summary = tr.summary()
    assert summary["layer.outer"]["self_ms"] == pytest.approx(
        summary["layer.outer"]["total_ms"] - summary["layer.inner"]["total_ms"]
    )
    waits = tr.first_child_wait_ms({"layer.outer"})
    assert len(waits) == 1 and waits[0] >= 2.0
    assert _Target.outer.__name__ == "outer" and not hasattr(_Target.outer, "__wrapped__")


def test_spans_without_operation_use_root_span_as_operation():
    tr = Tracer()
    with tr.span("a") as a:
        with tr.span("b"):
            pass
    assert {s["op"] for s in tr.spans} == {a}


def test_spark_counters_charges_jobs_to_intervals(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5_000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9_000, "Stage IDs": [3]},
    ]
    for stage, run_ms, shuffle in ((0, 10, 0), (1, 20, 2**20), (2, 30, 0), (3, 40, 0)):
        events.append(
            {
                "Event": "SparkListenerTaskEnd",
                "Stage ID": stage,
                "Task Metrics": {
                    "Executor Run Time": run_ms,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                    "Memory Bytes Spilled": 0,
                    "Disk Bytes Spilled": 2**20 if stage == 2 else 0,
                },
            }
        )
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    (d / "events_1_app").write_text("\n".join(json.dumps(e, separators=(",", ":")) for e in events))
    out = spark_counters(str(tmp_path), [("read", 0.5, 2.0), ("flush", 4.0, 6.0), ("read", 8.0, 8.5)])
    assert out["read"] == {"ops": 2, "jobs": 1, "task_ms": 10, "shuffle_mb": 0.0, "spill_mb": 0.0}
    assert out["flush"] == {"ops": 1, "jobs": 1, "task_ms": 50, "shuffle_mb": 1.0, "spill_mb": 1.0}
    per_op = layers.spark_layers(out)
    assert per_op["spark.read_jobs"] == 0.5 and per_op["spark.flush_task_ms"] == 50


# -- metric names ------------------------------------------------------------
def test_report_fills_every_layer_metric():
    tr = Tracer()
    out = layers.report({"server.read_ms": 3.0}, tr)
    assert list(out) == layers.NAMES
    assert out["server.read_ms"] == {"value": 3.0, "unit": "ms"}
    assert out["storage.scan_ms"]["value"] == 0.0
    with pytest.raises(KeyError):
        layers.report({"no.such_metric": 1.0}, tr)


def test_benchmark_json_lists_the_layer_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["per_layer"]] == layers.NAMES
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS
    assert [w["name"] for w in bench["workloads"]] == ["headline", "logs_http"]


def test_layer_queries_are_headline_queries():
    sys.path.insert(0, ROOT)
    import bench

    assert set(layers.QUERIES) <= set(bench.HEADLINE)
