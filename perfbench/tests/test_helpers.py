"""Spark-free tests of the benchmark's own helpers.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

REPO = os.path.dirname(os.path.dirname(HERE))


# ------------------------------------------------ percentile / sample count
def test_tail_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(1000) == 99
    # the rule itself: at least 10 samples lie above the reported percentile
    for n in (20, 37, 100, 250, 1001):
        p = stats.tail_percentile(n)
        assert n * (100 - p) / 100 >= 10
        assert n * (100 - (p + 1)) / 100 < 10


def test_summarize_reports_median_count_and_supported_tail():
    xs = [float(i) for i in range(1, 8)]
    assert stats.summarize(xs) == {"p50": 4.0, "n": 7}
    ys = [float(i) for i in range(1, 101)]
    s = stats.summarize(ys)
    assert s["n"] == 100 and s["p50"] == statistics.median(ys)
    assert s["p90"] == 90.0


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 1) == 1.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# ------------------------------------------------------ span self time
def _span(i, parent, start, end, layer="l", name=None, op=None, info=None):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "layer": layer, "name": name or f"s{i}", "op": op, "info": info or {}}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0, "merge_into"),
        _span(2, 1, 1.0, 4.0, "lakehouse"),
        _span(3, 1, 3.0, 6.0, "lakehouse"),   # overlaps its sibling
        _span(4, 2, 1.5, 2.0, "lakehouse"),   # grandchild: not subtracted from 1
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0)   # children cover [1, 6)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # + the sibling overlap
    by_layer = stats.layer_self_times(spans)
    assert by_layer == pytest.approx({"merge_into": 5.0, "lakehouse": 6.0})


def test_self_time_clips_children_to_parent():
    spans = [_span(1, None, 0.0, 2.0), _span(2, 1, 1.0, 5.0)]
    assert stats.self_times(spans)[1] == pytest.approx(1.0)


def test_unattributed_remainder():
    spans = [_span(1, None, 1.0, 3.0), _span(2, None, 2.0, 4.0),
             _span(3, None, 9.0, 12.0)]
    # wall [0, 10): covered [1, 4) and [9, 10)
    assert stats.unattributed((0.0, 10.0), spans) == pytest.approx(6.0)
    assert stats.unattributed((0.0, 10.0), []) == pytest.approx(10.0)
    assert stats.covered([]) == 0.0


# ------------------------------------------------------ stage shapes
@pytest.mark.parametrize(
    "inp, sr, sw, out, shape",
    [
        (100, 0, 50, 0, "scan"),        # scan + partial aggregate
        (100, 0, 0, 0, "scan"),
        (0, 80, 60, 0, "exchange"),     # shuffle in and out
        (0, 80, 0, 0, "result"),        # final aggregate / collect
        (0, 80, 0, 40, "write"),        # exchange into the parquet writer
        (100, 0, 0, 40, "write"),       # map-only write
        (0, 0, 0, 0, "other"),          # local relation
    ],
)
def test_stage_shape(inp, sr, sw, out, shape):
    assert stats.stage_shape(inp, sr, sw, out) == shape


# ------------------------------------------------- metric names and units
def test_metric_name_and_unit_rules():
    stats.check_metric("lakehouse.task_skew", "ratio")
    stats.check_metric("work_per_s", "1/s")
    stats.check_metric("trace.overhead_pct", "%")
    for bad in ("", "_x", ".x", "a b", "x" * 65, "x,y"):
        with pytest.raises(ValueError):
            stats.check_metric(bad, "s")
    for bad in ("", "m s", "x" * 17, "s,"):
        with pytest.raises(ValueError):
            stats.check_metric("ok", bad)


def test_check_metrics_against_declared_list():
    declared = [{"name": "setup_s", "unit": "s"}, {"name": "work_per_s", "unit": "1/s"}]
    good = {"setup_s": {"value": 1.5, "unit": "s"},
            "work_per_s": {"value": 10.0, "unit": "1/s"}}
    stats.check_metrics(good, declared)
    with pytest.raises(ValueError, match="missing"):
        stats.check_metrics({"setup_s": good["setup_s"]}, declared)
    with pytest.raises(ValueError, match="unit"):
        stats.check_metrics({**good, "setup_s": {"value": 1.0, "unit": "ms"}}, declared)
    for v in (float("nan"), float("inf"), True, "1"):
        with pytest.raises(ValueError):
            stats.check_metrics({**good, "setup_s": {"value": v, "unit": "s"}}, declared)


def test_benchmark_json_follows_the_rules():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"] + spec["per_layer"]:
        stats.check_metric(m["name"], m["unit"])
        assert m["better"] in ("higher", "lower")
    assert {"name": "setup_s", "unit": "s", "better": "lower",
            "bound": max(m["bound"] for m in spec["end_to_end"])} in spec["end_to_end"]
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert 2 <= len(spec["workloads"]) <= 8


def test_layer_metrics_cover_the_declared_per_layer_list():
    """layers.layer_metrics plus the set-up figures run.py adds give every
    per-layer metric BENCHMARK.json declares, even for an empty window."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    got = set(layers.layer_metrics([], [], [], []))
    got |= {"session.start_s", "session.warmup_s", "cdc_generator.gen_s",
            "trace.overhead_pct"}
    assert got == {m["name"] for m in spec["per_layer"]}


def test_layer_metrics_attribute_stages_to_spans():
    spans = [
        _span(1, None, 0.0, 4.0, "merge_into", "apply_changes",
              info={"keys_applied": 30}),
        _span(2, 1, 1.0, 3.0, "lakehouse", "stage_write", info={"files": 16}),
        _span(3, 1, 3.0, 3.5, "lakehouse", "commit"),
    ]
    stages = [
        {"job": 7, "spans": [1, 2], "shape": "scan", "run_s": 2.0, "gc_s": 0.1,
         "input_bytes": 1000, "input_records": 100, "output_bytes": 0,
         "shuffle_read": 0, "shuffle_write": 500, "spill_bytes": 0},
        {"job": 7, "spans": [1, 2], "shape": "write", "run_s": 3.0, "gc_s": 0.2,
         "input_bytes": 0, "input_records": 0, "output_bytes": 800,
         "shuffle_read": 500, "shuffle_write": 0, "spill_bytes": 0,
         "task_p50_s": 0.5, "task_max_s": 1.0},
    ]
    m = layers.layer_metrics(spans, stages, [], [(0.0, 5.0)])
    assert m["dedup_window.scan_task_s"] == 2.0
    assert m["dedup_window.input_rows"] == 100
    assert m["dedup_window.keys_ratio"] == pytest.approx(0.3)
    assert m["lakehouse.exchange_bytes"] == 500
    assert m["lakehouse.write_task_s"] == 3.0
    assert m["lakehouse.output_bytes"] == 800
    assert m["lakehouse.files_written"] == 16
    assert m["lakehouse.task_skew"] == pytest.approx(2.0)
    assert m["merge_into.jobs"] == 1
    assert m["merge_into.apply_changes_s"] == pytest.approx(4.0)
    assert m["merge_into.self_s"] == pytest.approx(1.5)
    assert m["lakehouse.self_s"] == pytest.approx(2.5)
    assert m["jvm.gc_s"] == pytest.approx(0.3)
    assert m["trace.unattributed_pct"] == pytest.approx(20.0)


# ------------------------------------------------------------ the tracer
class _FakeContext:
    """The three SparkContext calls the tracer makes."""

    def __init__(self):
        self.tags: list[str] = []
        self.props: dict[str, str] = {}
        self.seen: list[tuple[str, ...]] = []

    def addJobTag(self, tag):
        self.tags.append(tag)

    def removeJobTag(self, tag):
        self.tags.remove(tag)

    def getLocalProperty(self, key):
        return self.props.get(key)


class _FakeSession:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_tracer_spans_nest_tag_jobs_and_share_op_ids():
    spark = _FakeSession()
    sc = spark.sparkContext
    t = tracing.Tracer(spark)
    with t.span("off", "x"):
        pass
    assert t.spans == []  # not installed: no spans, no tags
    t.enabled = True
    t.op = "w1"
    with t.span("outer", "merge_into"):
        sc.seen.append(tuple(sc.tags))
        sc.props["streaming.sql.batchId"] = "7"
        with t.span("inner", "lakehouse") as info:
            sc.seen.append(tuple(sc.tags))
            info["files"] = 3
    assert sc.tags == []
    outer, inner = sorted(t.spans, key=lambda s: s["id"])
    assert sc.seen == [(f"pb-{outer['id']}",), (f"pb-{outer['id']}", f"pb-{inner['id']}")]
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["op"] == "w1" and inner["op"] == "w1:epoch7"
    assert inner["info"] == {"files": 3}
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
