"""The one store-commit protocol (streaming/store.py) under injected
crashes, and the thread hand-off the sinks' concurrent jobs rely on.

The crash-point matrix replaces ``os.replace``, ``os.rename`` and
``shutil.rmtree`` inside the protocol module with versions that raise
on their k-th call, for every k a crash-free run makes. Each case
checks the two halves of the exactly-once contract:

- a read taken right after the crash returns the store either before
  or after the crashed batch, never a mix;
- once the crashed batch is replayed (what the streaming checkpoint
  does), the store reads equal to the crash-free sequential run, and
  replaying the committed batch once more changes nothing.
"""

from __future__ import annotations

import os
import shutil
import threading

import pytest

from sparkstreaming_realtime_spark.operators import similarity as sim
from sparkstreaming_realtime_spark.streaming import store as st
from sparkstreaming_realtime_spark.streaming.sinks import (
    dim_upsert_sink,
    idempotent_parquet_sink,
    ivf_append_sink,
    read_dim_snapshot,
    read_rollup_sum,
    read_sink,
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
        sink=lambda path: dim_upsert_sink(path, compact_every=1),
        read=lambda path: sorted(
            map(tuple, read_dim_snapshot(spark, path).collect())
        ),
        # each batch folds the one before it: batch 1's publish is the
        # first, batch 2 folds batch 1's tombstone of id 6 into seg=1
        # and deletes batch=0, which batch 1's commit put on gc. Its
        # late write of id 6 is older than the delete and stays
        # deleted.
        batches=[
            batch([("user_info", '{"id":1,"v":1}', "I", 1000, 1),
                   ("user_info", '{"id":6,"v":2}', "I", 1001, 2)]),
            batch([("user_info", '{"id":6,"v":2}', "D", 3000, 3),
                   ("user_info", '{"id":1,"v":3}', "U", 2000, 4)]),
            batch([("user_info", '{"id":6,"v":4}', "U", 2000, 5),
                   ("user_info", '{"id":1,"v":5}', "U", 3001, 6)]),
        ],
        n_pre=1,
    )


def _tier_merge_scenario(spark):
    def batch(b):
        return spark.createDataFrame(
            [(i + 10 * b, b * i, f"d{i % 2}") for i in range(4)],
            "id long, v long, dt string",
        )

    return dict(
        sink=lambda path: idempotent_parquet_sink(
            path, ("id",), compact_every=1
        ),
        read=lambda path: sorted(
            map(tuple, read_sink(spark, path).select("id", "v", "dt")
                .collect())
        ),
        # with a fan-in of 2, batch 2's fold of batch 1 merges seg=0
        # and seg=1 into seg=1-m; batch 3 merges seg=1-m with seg=2
        # and deletes what batch 2's commit put on gc
        patch={"TIER_FANOUT": 2},
        batches=[batch(b) for b in range(4)],
        n_pre=2,
    )


def _ivf_scenario(spark):
    schema = "vec_id long, embedding array<float>, label int"

    def batch(b):
        return spark.createDataFrame(
            [(100 + 10 * b + i, [1.0 - i, i + 0.1 * b], i) for i in range(2)],
            schema,
        )

    def sink(path):
        append = ivf_append_sink(path)

        def write(df, batch_id):
            append(df, batch_id)
            sim.ivf_compact(spark, path)

        return write

    return dict(
        init=lambda path: sim.build_ivf_index(
            spark.createDataFrame(
                [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0),
                 (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1)],
                schema,
            ),
            dim=2, path=path, n_cells=2, iters=1,
        ),
        sink=sink,
        read=lambda path: sorted(
            r["vec_id"] for r in sim.read_ivf_corpus(spark, path).collect()
        ),
        # every batch is folded by its own compaction, so the final
        # replay below replays a batch id the manifest already covers
        batches=[batch(b) for b in range(3)],
        n_pre=2,
    )


@pytest.mark.parametrize(
    "make",
    [_rollup_scenario, _dim_scenario, _tier_merge_scenario, _ivf_scenario],
    ids=["rollup_compacting", "dim_upsert", "tier_merge", "ivf_compacting"],
)
def test_crash_point_matrix(spark, tmp_path, monkeypatch, make):
    sc = make(spark)
    batches, n_pre = sc["batches"], sc["n_pre"]
    for name, value in sc.get("patch", {}).items():
        monkeypatch.setattr(st, name, value)
    faults = _Faults()
    monkeypatch.setattr(st, "os", _Module(
        os, replace=faults.wrap(os.replace), rename=faults.wrap(os.rename)
    ))
    monkeypatch.setattr(st, "shutil", _Module(
        shutil, rmtree=faults.wrap(shutil.rmtree)
    ))
    clean = str(tmp_path / "clean")
    sc.get("init", lambda path: None)(clean)
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
    assert all(n > 0 for _, _, n, _, _ in runs)
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
        # a replay of the committed batch (the sink finished, the
        # checkpoint commit did not) must not serve its rows twice
        sink(batches[b], b)
        assert sc["read"](path) == post_read, (
            f"replay of committed batch {b} diverged"
        )
