"""The one store-commit protocol (streaming/store.py) under injected
crashes, and the thread hand-off the sinks' concurrent jobs rely on.

The crash-point matrix replaces ``os.replace``, ``os.rename`` and
``shutil.rmtree`` inside the protocol module with versions that raise
on their k-th call, for every k a crash-free run makes. Each case
checks the two halves of the exactly-once contract:

- a read taken right after the crash returns the store either before
  or after the crashed batch, never a mix;
- once the crashed batch is replayed (what the streaming checkpoint
  does), the store reads equal to the crash-free sequential run.
"""

from __future__ import annotations

import os
import shutil
import threading

import pytest

from sparkstreaming_realtime_spark.streaming import store as st
from sparkstreaming_realtime_spark.streaming.sinks import (
    dim_upsert_sink,
    read_dim_snapshot,
    read_rollup_sum,
    rollup_sum_sink,
)
from sparkstreaming_realtime_spark.streaming.store import run_concurrent

CDC_SCHEMA = "table string, data string, op string, ts_ms long, event_id long"


def test_run_concurrent_threads_inherit_tags(spark):
    """Jobs submitted from run_concurrent's worker threads carry the
    caller's session tags, so cancelling by tag reaches them."""
    spark.addTag("store-protocol-probe")
    try:
        got = run_concurrent(
            spark, [lambda: set(spark.getTags()) for _ in range(2)]
        )
    finally:
        spark.removeTag("store-protocol-probe")
    assert all("store-protocol-probe" in tags for tags in got)


class _Crash(Exception):
    pass


class _Faults:
    """Counts the protocol's file-system mutations; raises on the
    ``crash_at``-th one (1-based) while armed."""

    def __init__(self):
        self.crash_at: int | None = None
        self.calls = 0
        self._lock = threading.Lock()

    def wrap(self, fn):
        def call(*args, **kwargs):
            with self._lock:
                self.calls += 1
                hit = self.calls == self.crash_at
            if hit:
                raise _Crash(f"injected crash at protocol call {self.calls}")
            return fn(*args, **kwargs)

        return call


class _Module:
    """A module stand-in: the overrides, then the real module."""

    def __init__(self, real, **overrides):
        self._real = real
        self.__dict__.update(overrides)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _rollup_scenario(spark):
    def batch(b):
        return spark.createDataFrame(
            [(f"k{i % 3}", i + 10 * b) for i in range(5)], "k string, v long"
        )

    return dict(
        sink=lambda path: rollup_sum_sink(path, ("k",), "v", compact_every=2),
        read=lambda path: sorted(
            map(tuple, read_rollup_sum(spark, path, ("k",), "v").collect())
        ),
        # batch 4 folds batches 2-3 and deletes what the batch-2 fold
        # put on gc (batches 0-1)
        batches=[batch(b) for b in range(5)],
        n_pre=4,
    )


def _dim_scenario(spark):
    def batch(rows):
        return spark.createDataFrame(rows, CDC_SCHEMA)

    return dict(
        sink=lambda path: dim_upsert_sink(path),
        read=lambda path: sorted(
            map(tuple, read_dim_snapshot(spark, path).collect())
        ),
        # ids 1 and 6 hash to different buckets (of the 8 a tiny
        # store gets). The crashed batch rewrites id 1's bucket, whose
        # previous version is on gc, and a tombstone empties id 6's.
        batches=[
            batch([("user_info", '{"id":1,"v":1}', "I", 1000, 1),
                   ("user_info", '{"id":6,"v":2}', "I", 1001, 2)]),
            batch([("user_info", '{"id":1,"v":3}', "U", 2000, 3)]),
            batch([("user_info", '{"id":6,"v":2}', "D", 3000, 4),
                   ("user_info", '{"id":1,"v":5}', "U", 3001, 5)]),
        ],
        n_pre=2,
    )


@pytest.mark.parametrize("make", [_rollup_scenario, _dim_scenario],
                         ids=["rollup_compacting", "dim_upsert"])
def test_crash_point_matrix(spark, tmp_path, monkeypatch, make):
    sc = make(spark)
    batches, n_pre = sc["batches"], sc["n_pre"]
    faults = _Faults()
    monkeypatch.setattr(st, "os", _Module(
        os, replace=faults.wrap(os.replace), rename=faults.wrap(os.rename)
    ))
    monkeypatch.setattr(st, "shutil", _Module(
        shutil, rmtree=faults.wrap(shutil.rmtree)
    ))
    clean = str(tmp_path / "clean")
    sink = sc["sink"](clean)
    for b in range(n_pre):
        sink(batches[b], b)
    # the crash-free run: the state before and after each batch, and
    # how many protocol calls the batch makes
    runs = []
    for b in range(n_pre, len(batches)):
        before = str(tmp_path / f"before{b}")
        shutil.copytree(clean, before)
        pre_read, calls0 = sc["read"](clean), faults.calls
        sink(batches[b], b)
        runs.append((b, before, faults.calls - calls0,
                     pre_read, sc["read"](clean)))
    assert sum(n for _, _, n, _, _ in runs) > 0
    for b, before, n_calls, pre_read, post_read in runs:
        for k in range(1, n_calls + 1):
            path = str(tmp_path / f"b{b}-crash{k}")
            shutil.copytree(before, path)
            sink = sc["sink"](path)
            faults.calls, faults.crash_at = 0, k
            with pytest.raises(_Crash):
                sink(batches[b], b)
            faults.crash_at = None
            assert sc["read"](path) in (pre_read, post_read), (
                f"crash at call {k} of batch {b} exposed a torn store"
            )
            sink(batches[b], b)  # the streaming checkpoint replays it
            assert sc["read"](path) == post_read, (
                f"replay after crash at call {k} of batch {b} diverged"
            )
