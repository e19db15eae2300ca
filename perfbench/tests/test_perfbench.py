"""Tests for the benchmark's own parts: the seeded generator, the
percentile rule, the Spark event-log fold and the span self times.
Run with ``python3 -m pytest perfbench/tests -q`` from the repository
root; no Spark session is started."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen
from perfbench.trace import (
    MIN_BEYOND,
    SPAN_PROP,
    fold_event_log,
    median,
    percentile,
    self_times,
    supported,
)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dp, _, fns in os.walk(root):
        for f in fns:
            path = os.path.join(dp, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a, _ = gen.ensure_inputs(str(tmp_path / "a"), workload, 5)
    b, _ = gen.ensure_inputs(str(tmp_path / "b"), workload, 5)
    c, _ = gen.ensure_inputs(str(tmp_path / "c"), workload, 6)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa == fb
    assert fa.keys() == fc.keys()
    assert fa != fc


def test_generator_records_properties_and_reuses_cache(tmp_path):
    path, props = gen.ensure_inputs(str(tmp_path), "ingest", 3)
    assert props["why"] == gen.WHY["ingest"]
    dau = props["properties"]["dau"]
    assert dau["late_events"] > 0
    assert 0.005 < dau["late_share"] < 0.02
    with open(os.path.join(path, "inputs.json")) as f:
        assert json.load(f) == props
    # a second call reads the cache instead of regenerating
    stamp = os.path.getmtime(os.path.join(path, "inputs.json"))
    assert gen.ensure_inputs(str(tmp_path), "ingest", 3) == (path, props)
    assert os.path.getmtime(os.path.join(path, "inputs.json")) == stamp


def test_percentile_needs_ten_samples_beyond_a_tail():
    xs = list(range(1000))
    # nearest rank: p99 of 1000 is the 990th value; 10 values lie above
    assert percentile(xs, 99) == 989
    assert supported(1000, 99)
    assert not supported(999, 99)
    with pytest.raises(ValueError):
        percentile(xs[:999], 99)
    # p90 needs 100 samples, no fewer
    assert percentile(list(range(100)), 90) == 89
    with pytest.raises(ValueError):
        percentile(list(range(99)), 90)
    assert MIN_BEYOND == 10


def test_median_has_no_sample_floor():
    assert median([3.0]) == 3.0
    assert median([1.0, 5.0, 2.0, 4.0]) == 3.0
    assert percentile([4.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)


def _job(job_id, t_s, stages, props=None):
    return {
        "Event": "SparkListenerJobStart", "Job ID": job_id,
        "Submission Time": int(t_s * 1000), "Stage IDs": stages,
        "Properties": props or {},
    }


def _task(stage, run_ms, gc_ms=0, shuffle=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_event_log_fold(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart"},
        # in window "a", no job group
        _job(0, 100.5, [0, 1]),
        _task(0, 1500, gc_ms=100, shuffle=2_000_000),
        _task(1, 500, spill=1_000_000),
        # in window "a" with a job group, and labelled through the span
        # property
        _job(1, 101.0, [2], {"spark.jobGroup.id": "g", SPAN_PROP: "sink.dau"}),
        _task(2, 250),
        # outside every window, labelled only
        _job(2, 300.0, [3], {SPAN_PROP: "sink.dau"}),
        _task(3, 1000),
        # outside everything: counted nowhere
        _job(3, 400.0, [4]),
        _task(4, 9000),
    ]
    log = tmp_path / "app-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    out = fold_event_log(str(log), [("a", 100.0, 200.0), ("b", 500.0, 600.0)])
    a, b, dau = out["labels"]["a"], out["labels"]["b"], out["labels"]["sink.dau"]
    assert a["jobs"] == 2
    assert a["task_s"] == pytest.approx(2.25)
    assert a["gc_s"] == pytest.approx(0.1)
    assert a["shuffle_mb"] == pytest.approx(2.0)
    assert a["spill_mb"] == pytest.approx(1.0)
    assert b == {"jobs": 0, "task_s": 0.0, "shuffle_mb": 0.0, "gc_s": 0.0, "spill_mb": 0.0}
    assert dau["jobs"] == 2
    assert dau["task_s"] == pytest.approx(1.25)
    assert out["jobs_without_group"] == 1


def _span(sid, parent, start, end):
    return {"id": sid, "name": f"s{sid}", "parent": parent, "start": start, "end": end}


def test_self_times_subtract_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: counted once
        _span(3, 0, 8.0, 12.0),  # ends after its parent: clipped
        _span(4, 1, 1.5, 2.0),  # grandchild: only its parent's business
        _span(5, None, 20.0, 21.0),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert got[1] == pytest.approx(2.0 - 0.5)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(0.5)
    assert got[5] == pytest.approx(1.0)
