"""Tests for the benchmark's reducers: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from reduce import (  # noqa: E402
    Call,
    charged_s,
    layer_self_times,
    outermost_s,
    reduce_event_log,
    self_times,
    summarize,
    tail,
    union_s,
)

TINY_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "tiny_eventlog.jsonl")


# ------------------------------------------------------------ percentile rule


def test_tail_has_ten_samples_beyond():
    value, pct, beyond = tail([float(x) for x in range(100, 0, -1)])
    assert (value, pct, beyond) == (90.0, 90.0, 10)


def test_tail_without_enough_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_tail_is_never_below_the_median():
    # 12 samples: the rank with ten beyond it is the 2nd smallest, which is
    # no tail, so the maximum is reported.
    xs = [float(x) for x in range(12, 0, -1)]
    assert tail(xs) == (12.0, 100.0, 0)
    # 21 samples: the median itself has ten beyond it.
    assert tail([float(x) for x in range(1, 22)]) == (11.0, pytest.approx(100.0 * 11 / 21), 10)


def test_tail_rank_moves_with_sample_count():
    # 20 samples: the 10th smallest has exactly ten above it.
    value, pct, beyond = tail([float(x) for x in range(1, 21)])
    assert (value, pct, beyond) == (10.0, 50.0, 10)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        tail([])


# ------------------------------------------------------------- failure charge


def test_failed_call_is_charged_the_limit():
    assert charged_s(Call("q", 0.2, 0.0, "boom"), 5.0) == 5.0
    assert charged_s(Call("q", 0.2, 0.3), 5.0) == pytest.approx(0.5)


def test_summary_charges_failures_in_pass_and_percentiles():
    p = [Call("a", 0.1, 0.4), Call("b", 0.05, 0.0, "ModuleNotFoundError"), Call("c", 0.2, 0.3)]
    s = summarize([p, p], limit_s=5.0)
    assert s["pass_s"] == pytest.approx(6.0)
    assert s["attempted"] == 6 and s["failed"] == 2
    assert s["failed_frac"] == pytest.approx(1 / 3)
    assert s["query_p50_s"] == pytest.approx(0.5)
    assert s["samples"] == 6 and s["passes"] == 2


def test_fixing_a_failure_never_reads_as_a_slowdown():
    broken = [Call("a", 0.1, 0.4), Call("b", 0.01, 0.0, "err")]
    fixed = [Call("a", 0.1, 0.4), Call("b", 2.0, 2.9)]
    before = summarize([broken] * 3, limit_s=5.0)
    after = summarize([fixed] * 3, limit_s=5.0)
    assert after["pass_s"] < before["pass_s"]
    assert after["query_p50_s"] <= before["query_p50_s"]


def test_pass_s_is_the_median_over_passes():
    passes = [[Call("a", t, 0.0)] for t in (1.0, 9.0, 2.0)]
    assert summarize(passes, limit_s=10.0)["pass_s"] == 2.0


# ---------------------------------------------------------------- self time


def _span(i, name, layer, start, end, parent=None):
    return {"id": i, "name": name, "layer": layer, "start": start, "end": end, "parent": parent, "trace": "t"}


def test_union_merges_overlaps_and_gaps():
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_s([]) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "registry.build", "registry.build", 0.0, 10.0),
        _span(1, "io.load_table", "io", 1.0, 3.0, parent=0),
        _span(2, "io.load_table", "io", 2.0, 4.0, parent=0),  # overlaps its sibling
        _span(3, "operators.pagerank.pagerank", "operators.pagerank", 5.0, 12.0, parent=0),  # runs past its parent
        _span(4, "io.checkpoint_partitioned", "io", 6.0, 8.0, parent=3),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 3.0 - 5.0)
    assert selfs[3] == pytest.approx(7.0 - 2.0)
    assert selfs[4] == pytest.approx(2.0)
    layers = layer_self_times(spans)
    assert layers == pytest.approx({"registry.build": 2.0, "io": 6.0, "operators.pagerank": 5.0})
    # Self times add up to the root's wall time plus what ran past it.
    assert sum(layers.values()) == pytest.approx(10.0 + 2.0 + 1.0)


def test_outermost_counts_a_nested_call_of_the_same_group_once():
    spans = [
        _span(0, "io.sink_partitioned", "io", 0.0, 4.0),
        _span(1, "io.sink_parquet", "io", 1.0, 3.0, parent=0),
        _span(2, "io.sink_parquet", "io", 5.0, 6.0),
    ]
    assert outermost_s(spans, {"io.sink_partitioned", "io.sink_parquet"}) == (2, pytest.approx(5.0))
    assert outermost_s(spans, {"io.sink_parquet"}) == (2, pytest.approx(3.0))


# ----------------------------------------------------------------- event log

# Windows of the two entries in the recorded log (udf_scalar, then
# sink_partitioned_prune, at sf0.001 on local[2]).
WINDOWS = [
    ("udf_scalar", 1792213489.2641096, 1792213494.894447),
    ("sink_partitioned_prune", 1792213494.894486, 1792213497.113751),
]


def test_event_log_reduction_on_a_recorded_log():
    with open(TINY_LOG) as f:
        out = reduce_event_log(f, WINDOWS)
    udf, sink = out["udf_scalar"], out["sink_partitioned_prune"]
    assert (udf["jobs"], udf["stages"], udf["tasks"]) == (2, 2, 2)
    assert (sink["jobs"], sink["stages"], sink["tasks"]) == (6, 6, 6)
    # Only the scalar-UDF entry runs a Python-worker stage.
    assert udf["python_stage_run_s"] == pytest.approx(1.692)
    assert sink["python_stage_run_s"] == 0
    # Only the sink writes: its bytes and its three partition files.
    assert udf["output_bytes"] == 0 and udf["files"] == 0
    assert sink["output_bytes"] == 35138 and sink["files"] == 3
    assert sink["shuffle_write_bytes"] == 666 and sink["shuffle_read_bytes"] == 975
    assert udf["input_rows"] == 1000 and udf["input_bytes"] == 3303
    for c in out.values():
        assert c["tasks_failed"] == 0
        assert 0 < c["busy_s"] <= c["exec_run_s"] + 1.0


def test_event_log_reduction_ignores_work_outside_windows():
    with open(TINY_LOG) as f:
        out = reduce_event_log(f, [("none", 0.0, 1.0)])
    assert all(v == 0 for v in out["none"].values())


def test_failed_task_is_counted():
    lines = [
        '{"Event":"SparkListenerStageSubmitted","Stage Info":{"Stage ID":0,"Submission Time":1500,"RDD Info":[]}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":0,"Task End Reason":{"Reason":"ExceptionFailure"},'
        '"Task Info":{"Launch Time":1500,"Finish Time":1600,"Failed":true},"Task Metrics":{"Executor Run Time":100}}',
    ]
    out = reduce_event_log(lines, [("q", 1.0, 2.0)])
    assert out["q"]["tasks_failed"] == 1 and out["q"]["tasks"] == 1
    assert out["q"]["busy_s"] == pytest.approx(0.1)
