"""Tests of the benchmark's measuring helpers (no Spark session needed).

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import measure  # noqa: E402
from measure import Span, percentile, self_time, tail_percentile  # noqa: E402
from tests.oracle_harness import canon_rows  # noqa: E402


@pytest.mark.parametrize("n, want", [
    (0, None), (24, None), (25, 60.0), (39, 60.0), (40, 75.0), (49, 75.0), (50, 80.0), (99, 80.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) / 100 >= 10 - 1e-9


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs[::-1], 75) == 75
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_op_latency_weights_every_component_the_same():
    ops = {"cheap": [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0], "dear": [8.0, 8.0, 16.0]}
    p50, tail = measure.op_latency(ops, 90.0)
    assert p50 == pytest.approx(8.0 ** 0.5)
    assert tail == pytest.approx(16.0 ** 0.5)
    # slowing one component by k moves both by k ** (1 / components)
    slow = dict(ops, dear=[2 * x for x in ops["dear"]])
    assert measure.op_latency(slow, 90.0)[0] == pytest.approx(p50 * 2 ** 0.5)
    assert measure.op_latency(dict(ops, none=[]), 90.0) == (p50, tail)
    with pytest.raises(ValueError):
        measure.geomean([1.0, 0.0])


def test_median_even_and_odd():
    assert measure.median([3, 1, 2]) == 2
    assert measure.median([4, 1, 3, 2]) == 2.5


def _digest(cols, rows):
    return measure.digest_rows(cols, rows, canon_rows)


def test_digest_ignores_row_and_column_order():
    a = _digest(["x", "y"], [(1, "a"), (2, "b")])
    assert a == _digest(["y", "x"], [("b", 2), ("a", 1)])
    assert a != _digest(["x", "y"], [(1, "a"), (3, "b")])
    assert a != _digest(["x", "z"], [(1, "a"), (2, "b")])


def test_digest_canonicalizes_values_like_the_oracle_harness():
    # floats to 9 places, decimals normalized, NULL and booleans spelled out
    assert _digest(["v"], [(0.1 + 0.2,)]) == _digest(["v"], [(0.3,)])
    assert _digest(["v"], [(decimal.Decimal("1.50"),)]) == _digest(["v"], [(decimal.Decimal("1.5"),)])
    assert _digest(["v"], [(None,)]) == _digest(["v"], [("<NULL>",)])
    assert _digest(["v"], [(True,)]) == _digest(["v"], [(1,)])
    ts = datetime.datetime(2024, 1, 5, 3, 0)
    assert _digest(["t"], [(ts,)]) == _digest(["t"], [("2024-01-05 03:00:00.000000",)])
    # a row boundary is not a value boundary
    assert _digest(["a", "b"], [("x", "y")]) != _digest(["a", "b"], [("x\x1fy", "")])


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", "k", start, end, parent, "g")


def test_self_time_subtracts_covered_interval_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 6.0, 7.0, 0)]
    assert self_time(parent, kids) == pytest.approx(10.0 - 3.0 - 1.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span(0, 5.0, 10.0)
    kids = [_span(1, 0.0, 6.0, 0), _span(2, 9.0, 20.0, 0), _span(3, 11.0, 12.0, 0)]
    assert self_time(parent, kids) == pytest.approx(5.0 - 1.0 - 1.0)
    assert self_time(parent, []) == pytest.approx(5.0)


def test_tracer_nests_spans_and_shares_the_group():
    tr = measure.Tracer(True)
    with tr.span("entry", "entry", group="p0:q1") as e:
        with tr.span("build", "build") as b:
            pass
        tr.add("phase", "phase", e.start, e.start, b)
    assert [s.parent for s in tr.spans] == [None, e.id, b.id]
    assert {s.group for s in tr.spans} == {"p0:q1"}
    off = measure.Tracer(False)
    with off.span("x", "x") as s:
        assert s is None
    assert off.spans == [] and off.add("y", "y", 0, 1, None) is None


def test_names_and_units_are_valid():
    for ok in ("setup_s", "pipelines.sale_detail.state_commit_ms", "9lives", "a-b.c_d"):
        assert measure.valid_name(ok)
    for bad in ("", "_x", ".x", "a b", "x/y", "a" * 65):
        assert not measure.valid_name(bad)
    for ok in ("ms", "s", "1/s", "count", "rows/s", "%", "MB"):
        assert measure.valid_unit(ok)
    for bad in ("", "a b", "x" * 17):
        assert not measure.valid_unit(bad)


def test_benchmark_json_metrics_match_what_the_runs_print():
    import layers

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    per_layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert per_layer == layers.names()
    names = [n for n, _u in e2e + per_layer] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(measure.valid_name(n) for n in names)
    assert all(measure.valid_unit(u) for _n, u in e2e + per_layer)
    assert {n for n, _u in e2e} == {"setup_s", "pass_s", "op_ms_p50", "op_ms_tail"}


def test_read_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 1000,
         "Stage IDs": [7, 8], "Properties": {"spark.jobGroup.id": "p0:q1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 8,
         "Task Info": {"Launch Time": 1001, "Finish Time": 1011},
         "Task Metrics": {"Executor Run Time": 9, "Executor CPU Time": 4_000_000,
                          "JVM GC Time": 1,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 5,
                                                   "Local Bytes Read": 6},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Memory Bytes Spilled": 2, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 2000},
    ]
    p = tmp_path / "events_1"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, tasks, stage_job = measure.read_event_log([str(p)])
    assert [(j.id, j.props["spark.jobGroup.id"]) for j in jobs] == [(3, "p0:q1")]
    assert stage_job == {7: 3, 8: 3}
    (t,) = tasks
    assert (t.run_ms, t.cpu_ms, t.gc_ms) == (9, 4.0, 1)
    assert (t.shuffle_read, t.shuffle_write, t.spill) == (11, 7, 5)
