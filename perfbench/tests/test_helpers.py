"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import model, stats  # noqa: E402
from perfbench.trace import Span, attribute_jobs, parse_event_log, self_times  # noqa: E402

# -- percentile rule ---------------------------------------------------------


def test_median_needs_one_sample():
    assert stats.percentile([3.0], 50.0) == 3.0
    assert stats.percentile([], 50.0) is None


def test_tail_percentile_needs_ten_samples_beyond_it():
    values = [float(i) for i in range(1, 100)]  # 99 samples
    # p90 leaves 99 - ceil(89.1) = 9 beyond it: not reportable
    assert stats.samples_beyond(99, 90.0) == 9
    assert stats.percentile(values, 90.0) is None
    values.append(100.0)  # 100 samples: exactly 10 beyond p90
    assert stats.percentile(values, 90.0) == 90.0
    assert stats.percentile(values, 95.0) is None


def test_tail_picks_the_highest_supported_percentile():
    assert stats.tail([1.0] * 19) is None  # p75 leaves 4 beyond
    pct, value = stats.tail([float(i) for i in range(1, 41)])
    assert pct == 75.0 and value == 30.0
    pct, _ = stats.tail([float(i) for i in range(1, 1001)])
    assert pct == 99.0  # p99.9 leaves only 1 beyond


# -- geometric mean ----------------------------------------------------------


def test_gmean():
    assert stats.gmean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.gmean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        stats.gmean([])
    with pytest.raises(ValueError):
        stats.gmean([1.0, 0.0])


def test_gmean_of_medians_weights_each_kind_once():
    # one cheap kind with many samples, one costly kind with one sample
    by_kind = {"cheap": [1.0] * 99, "costly": [100.0]}
    assert stats.gmean_of_medians(by_kind) == pytest.approx(10.0)
    assert stats.gmean_of_medians({"a": [1.0, 4.0, 9.0], "b": [], "c": [4.0]}) == pytest.approx(4.0)


def test_spread_is_iqr_over_median():
    vals = [10.0] * 10
    assert stats.spread(vals) == 0.0
    assert stats.spread([9.0, 10.0, 10.0, 11.0]) > 0.0


# -- event-log parser --------------------------------------------------------

_FIXTURE = [
    {"Event": "SparkListenerApplicationStart", "App Name": "x"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "7"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 30, "JVM GC Time": 2, "Memory Bytes Spilled": 0,
        "Disk Bytes Spilled": 5,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 20, "JVM GC Time": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 50}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 10, "JVM GC Time": 1,
        "Shuffle Read Metrics": {"Remote Bytes Read": 3, "Local Bytes Read": 147}}},
    # job 1 reuses stage 1's shuffle (listed, never submitted) and runs stage 2
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
     "Stage IDs": [1, 2], "Properties": {}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 4}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1},
]


def test_parse_event_log_per_job_figures():
    jobs = parse_event_log(json.dumps(e) for e in _FIXTURE)
    assert set(jobs) == {0, 1}
    j0, j1 = jobs[0], jobs[1]
    assert j0["group"] == "7" and j0["submit_ms"] == 1000
    assert (j0["stages"], j0["tasks"], j0["task_ms"], j0["gc_ms"]) == (2, 3, 60, 3)
    assert (j0["shuffle_write"], j0["shuffle_read"], j0["spill"]) == (150, 150, 5)
    assert j1["group"] is None
    assert (j1["stages"], j1["tasks"], j1["task_ms"]) == (1, 1, 4)


def test_parse_event_log_skips_blank_lines():
    assert parse_event_log(["", "  \n"]) == {}


def test_jobs_go_to_their_group_else_to_the_enclosing_op():
    spans = [
        Span(1, "op.get_row", None, 1, 2.0, 3.0),
        Span(2, "store.read", 1, 1, 2.1, 2.2),
        Span(3, "op.count", None, 3, 4.0, 5.0),
    ]
    jobs = {
        0: {"group": "2", "submit_ms": 2150},
        1: {"group": None, "submit_ms": 4500},   # streaming thread: no group
        2: {"group": None, "submit_ms": 9000},   # outside every op
    }
    assert attribute_jobs(jobs, spans) == {0: 2, 1: 3, 2: None}


def test_self_time_subtracts_children():
    spans = [Span(1, "op", None, 1, 0.0, 1.0), Span(2, "a", 1, 1, 0.1, 0.4),
             Span(3, "b", 1, 1, 0.5, 0.7), Span(4, "c", 3, 1, 0.5, 0.6)]
    st = self_times(spans)
    assert st[1] == pytest.approx(0.5)
    assert st[3] == pytest.approx(0.1)
    assert st[4] == pytest.approx(0.1)


# -- ingest_compact model checker -------------------------------------------


def _item(key, ts, price, status):
    return {"row_key": key, "cells": [
        {"column_key": "o:totalprice", "timestamp": ts, "value": {"f64": price}},
        {"column_key": "o:orderstatus", "timestamp": ts, "value": {"string": status}},
    ]}


def test_model_keeps_versions_newest_first_and_gc_trims():
    m = model.CellModel({"order#000000000001": {("o", "totalprice"): [(0, "f64", 1.0)]}})
    m.write([_item("order#000000000001", 5, 2.0, "F")])
    m.write([_item("order#000000000001", 3, 3.0, "O")])
    row = m.rows["order#000000000001"]
    assert [v[0] for v in row[("o", "totalprice")]] == [5, 3, 0]
    assert m.count() == (1, 5)
    m.gc(2)
    assert row[("o", "totalprice")] == [(5, "f64", 2.0), (3, "f64", 3.0)]
    assert m.count() == (1, 4)


def test_model_rewrite_of_a_coordinate_replaces_it():
    m = model.CellModel()
    m.write([_item("k", 7, 1.0, "F")])
    m.write([_item("k", 7, 2.0, "O")])
    assert m.rows["k"][("o", "totalprice")] == [(7, "f64", 2.0)]


def test_model_prefix_count_and_diff():
    m = model.CellModel()
    m.write([_item("order#000000000101", 1, 1.0, "F"), _item("order#000000000201", 1, 1.0, "F")])
    assert m.count("order#0000000001") == (1, 2)
    assert m.count() == (2, 4)
    same = {k: dict(v) for k, v in m.rows.items()}
    assert model.diff_rows(m.rows, same) == []
    same["order#000000000101"][("o", "totalprice")] = [(1, "f64", 9.0)]
    problems = model.diff_rows(m.rows, same)
    assert len(problems) == 1 and problems[0].startswith("order#000000000101")


def test_rows_from_json_and_project():
    rows = model.rows_from_json([{"row_key": "r", "columns": {"o": {
        "totalprice": [{"time": 2, "value": {"f64": 1.5}}, {"time": 1, "value": {"f64": 1.0}}],
        "orderstatus": [{"time": 2, "value": {"string": "F"}}]}}}])
    assert model.project(rows["r"], "o", "totalprice", 1) == {("o", "totalprice"): [(2, "f64", 1.5)]}


def test_cell_bytes_matches_the_scan_formula():
    from perfbench.common import cell_bytes

    # row key 3 + family 1 + qualifier 2 + 9 + payload
    assert cell_bytes("abc", "o", "qq", "f64", 1.0) == 3 + 1 + 2 + 9 + 8
    assert cell_bytes("abc", "o", "qq", "string", "hé") == 3 + 1 + 2 + 9 + 3
    assert not math.isnan(cell_bytes("k", "f", "", "boolean", True))


# -- tracing overhead --------------------------------------------------------


def test_overhead_is_reported_only_above_the_noise():
    from perfbench.layers import overhead_pct

    over, noise = overhead_pct(1.2, [1.0, 1.0])
    assert noise == 0.0 and over == pytest.approx(20.0)
    # untraced phases 10% apart: a 5% slower traced phase is within noise
    over, noise = overhead_pct(1.10, [1.0, 1.1])
    assert noise == pytest.approx(100.0 * 0.1 / 1.05)
    assert over == 0.0


# -- the result line matches BENCHMARK.json ----------------------------------


def test_metric_names_and_units_match_benchmark_json():
    from perfbench import layers, run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per_layer == {n: layers.unit(n) for n in layers.metric_names()}
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
