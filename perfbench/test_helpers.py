"""Self-tests of the benchmark's helpers (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import env, inputs, stats  # noqa: E402
from perfbench.tracing import StageMetrics, Tracer, one_core  # noqa: E402


def test_percentile_interpolates_and_bounds():
    values = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(values, 0) == 1.0
    assert stats.percentile(values, 100) == 4.0
    assert stats.percentile(values, 50) == 2.5
    assert stats.percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile(values, 101)


def test_weak_scaling_efficiency():
    # 4x the rows on 4x the cores in the same time: perfect
    assert stats.weak_scaling_efficiency(400, 2.0, 100, 2.0, 4) == pytest.approx(1.0)
    # the wide leg takes 25% longer: 0.8
    assert stats.weak_scaling_efficiency(400, 2.5, 100, 2.0, 4) == pytest.approx(0.8)
    with pytest.raises(ValueError):
        stats.weak_scaling_efficiency(400, 0.0, 100, 2.0, 4)


def test_covered_merges_overlaps_and_clips():
    assert stats.covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert stats.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert stats.covered([], 0, 10) == 0


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(6.0)
    assert own[1] == pytest.approx(2.5)
    assert own[2] == pytest.approx(2.0)
    assert own[3] == pytest.approx(0.5)


def test_counter_diff_rejects_resets():
    assert stats.counter_diff({"a": 5, "b": 1}, {"a": 8, "b": 1, "c": 2}) == {"a": 3, "b": 0, "c": 2}
    with pytest.raises(ValueError):
        stats.counter_diff({"a": 5}, {"a": 4})


def test_tracer_totals_count_nested_same_name_once():
    tracer = Tracer()
    with tracer.span("outer"):
        with tracer.span("lookup"):
            with tracer.span("lookup"):
                pass
    totals = tracer.totals()
    assert totals["lookup"]["count"] == 2
    inner, outer_lookup = tracer.spans[2], tracer.spans[1]
    assert totals["lookup"]["total"] == pytest.approx(outer_lookup["end"] - outer_lookup["start"])
    assert inner["parent"] == outer_lookup["id"]


def test_tracer_wrapped_restores_and_records():
    class Box:
        @staticmethod
        def work(x):
            return x * 2

    original = Box.work
    tracer = Tracer()
    with tracer.wrapped([("box.work", Box, "work")]):
        assert Box.work(3) == 6
    assert Box.work is original
    assert [s["name"] for s in tracer.spans] == ["box.work"]


def test_one_core_pins_the_process_and_releases_it():
    everything = os.sched_getaffinity(0)
    with one_core():
        assert os.sched_getaffinity(0) == {min(everything)}
    assert os.sched_getaffinity(0) == everything


def test_stage_summary_sums_attempts():
    stages = [
        {"executorRunTime": 100, "jvmGcTime": 5, "shuffleWriteBytes": 10, "task_ms": [40, 60]},
        {"executorRunTime": 50, "jvmGcTime": 0, "shuffleWriteBytes": 0, "task_ms": [50]},
    ]
    s = StageMetrics.summarize(stages)
    assert (s["run_ms"], s["gc_ms"], s["tasks"], s["shuffle_write_bytes"]) == (150, 5, 3, 10)


def test_documents_are_seeded_and_same_shape(tmp_path):
    import pyarrow.parquet as pq

    paths = [
        inputs.write_documents(str(tmp_path / name), seed=seed, n_docs=200)
        for name, seed in (("a", 1), ("b", 1), ("c", 2))
    ]
    ta, tb, tc = (pq.read_table(p).to_pandas() for p in paths)
    assert ta.equals(tb)
    assert not ta["text"].equals(tc["text"])
    for t in (ta, tc):
        assert len(t) == 200
        assert t["text"].str.endswith(" dup").sum() == 10
        assert t["text"].str.split().str.len().between(10, 101).all()


def test_hostile_rows_are_seeded():
    a, b = inputs.hostile_frame(5, 12), inputs.hostile_frame(5, 12)
    assert a.equals(b)
    assert list(a["url"].str.extract(r"hostile-(\w+)\.")[0][:6]) == list(inputs.HOSTILE_KINDS)


def test_spec_is_well_formed():
    with open(os.path.join(env.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in spec["end_to_end"] if m["name"] == "setup_s"
    ).items()
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
