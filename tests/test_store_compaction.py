"""Additive-store compaction (streaming/store.py): the manifest-
committed fold that keeps the ``batch=<id>`` directory count of the
additive sink family independent of stream lifetime.

Contract under test, per streaming/store.py:
- live view (segments ∪ tail) always equals the fold of every batch
  ever written — at ANY compaction point;
- replays of the in-flight batch stay idempotent after a fold;
- the manifest publish is the single commit point (crash before it
  leaves a rebuildable partial; crash after it leaves gc-listed
  stale dirs that the next compaction reclaims);
- GC is deferred one compaction interval (reader grace);
- directory counts stop tracking stream lifetime.

Sinks drive their ``write(batch_df, batch_id)`` directly — the same
call path ``foreachBatch`` takes, with deterministic batch ids.
"""

from __future__ import annotations

import os

from sparkstreaming_realtime_spark.streaming.sinks import (
    bm25_index_sink,
    copurchase_sink,
    idempotent_parquet_sink,
    quality_gate_sink,
    read_bm25_index,
    read_copurchase,
    read_rollup_sum,
    read_sink,
    rollup_sum_sink,
)
from sparkstreaming_realtime_spark.streaming.store import (
    batch_dir,
    batch_ids,
    load_manifest,
)


def _rollup_fixture(spark, b):
    return spark.createDataFrame(
        [(f"k{i % 3}", i + b) for i in range(5)], "k string, v long"
    )


def _expected_rollup(n_batches):
    exp = {}
    for b in range(n_batches):
        for i in range(5):
            exp[f"k{i % 3}"] = exp.get(f"k{i % 3}", 0) + i + b
    return exp


def _got_rollup(spark, path):
    return {
        r["k"]: r["v"]
        for r in read_rollup_sum(spark, path, ("k",), "v").collect()
    }


def test_rollup_compaction_preserves_sums_and_bounds_dirs(spark, tmp_path):
    """Seven batches at compact_every=2: the read equals the exact
    fold at every step, the manifest advances, and folded batch dirs
    are reclaimed one interval later — directory count tracks the
    compaction cadence, not stream lifetime."""
    path = str(tmp_path / "rollup")
    sink = rollup_sum_sink(path, ("k",), "v", compact_every=2)
    for b in range(7):
        sink(_rollup_fixture(spark, b), b)
        assert _got_rollup(spark, path) == _expected_rollup(b + 1)
    m = load_manifest(path)
    assert m is not None and m["upto"] >= 3
    # fold mode keeps exactly ONE segment
    assert m["segments"][""] == [f"seg={m['gen']}"]
    # every on-disk batch dir at or below the fold line is exactly a
    # gc-pending dir (deferred one interval for reader grace) — none
    # is silently orphaned
    pending = {d for d in m["gc"] if d.startswith("batch=")}
    assert pending
    on_disk_folded = {
        os.path.basename(batch_dir(path, i))
        for i in batch_ids(path) if i <= m["upto"]
    }
    assert on_disk_folded == pending
    for d in m["gc"]:
        assert os.path.exists(os.path.join(path, d))
    # ...and dirs folded TWO rounds ago are gone
    assert not os.path.exists(os.path.join(path, "batch=0"))
    assert not os.path.exists(os.path.join(path, "seg=0"))


def test_rollup_replay_after_compaction_is_idempotent(spark, tmp_path):
    """A replayed in-flight batch must overwrite, not double-count —
    including immediately after a fold (the fold never touches the
    max id, so the replay contract survives compaction)."""
    path = str(tmp_path / "rollup")
    sink = rollup_sum_sink(path, ("k",), "v", compact_every=2)
    for b in range(5):
        sink(_rollup_fixture(spark, b), b)
    exp = _expected_rollup(5)
    assert _got_rollup(spark, path) == exp
    sink(_rollup_fixture(spark, 4), 4)  # replay the in-flight epoch
    assert _got_rollup(spark, path) == exp


def test_compaction_crash_before_publish_rebuilds(spark, tmp_path):
    """A crash mid-fold leaves a partial seg-<gen> the manifest never
    referenced; the replayed batch rmtree's and rebuilds it — reads
    in between still resolve the OLD manifest consistently."""
    path = str(tmp_path / "rollup")
    sink = rollup_sum_sink(path, ("k",), "v", compact_every=3)
    for b in range(3):
        sink(_rollup_fixture(spark, b), b)
    assert load_manifest(path) is None  # ids [0,1] < 3: no fold yet
    # simulate a crashed first fold: junk where seg=0 would land
    junk = os.path.join(path, "seg=0", "part-junk")
    os.makedirs(os.path.join(path, "seg=0"), exist_ok=True)
    with open(junk, "w") as f:
        f.write("not parquet")
    assert _got_rollup(spark, path) == _expected_rollup(3)  # reads OK
    sink(_rollup_fixture(spark, 3), 3)  # triggers the fold for [0,1,2]
    m = load_manifest(path)
    assert m["gen"] == 0 and m["upto"] == 2
    assert not os.path.exists(junk)
    assert _got_rollup(spark, path) == _expected_rollup(4)


def test_compaction_crash_after_publish_gc_reclaims(spark, tmp_path):
    """Stale dirs left by a crash between publish and GC are exactly
    the manifest's gc list — the next compaction reclaims them (the
    deferred-GC path doubles as crash recovery)."""
    path = str(tmp_path / "rollup")
    sink = rollup_sum_sink(path, ("k",), "v", compact_every=2)
    for b in range(3):
        sink(_rollup_fixture(spark, b), b)
    m = load_manifest(path)
    stale = [os.path.join(path, d) for d in m["gc"]]
    assert stale and all(os.path.exists(p) for p in stale)
    for b in range(3, 5):
        sink(_rollup_fixture(spark, b), b)  # next fold runs at b=4
    assert not any(os.path.exists(p) for p in stale)
    assert _got_rollup(spark, path) == _expected_rollup(5)


def test_raw_sink_compaction_keeps_dt_layout_and_rows(spark, tmp_path):
    """Append-mode compaction of the raw idempotent sink: all rows
    survive, the dt partition column survives, prior segments are
    never rewritten (their mtimes are stable across later folds)."""
    path = str(tmp_path / "raw")
    sink = idempotent_parquet_sink(
        path, key_cols=("k",), partition_col="dt", compact_every=2
    )
    keys = []
    for b in range(4):
        df = spark.createDataFrame(
            [(f"r{b}_{i}", f"2024-01-0{1 + i % 2}") for i in range(4)],
            "k string, dt string",
        )
        sink(df, b)
        keys += [f"r{b}_{i}" for i in range(4)]
    seg0 = os.path.join(path, "seg=0")
    stamp = os.path.getmtime(seg0)
    for b in range(4, 7):
        df = spark.createDataFrame(
            [(f"r{b}_{i}", f"2024-01-0{1 + i % 2}") for i in range(4)],
            "k string, dt string",
        )
        sink(df, b)
        keys += [f"r{b}_{i}" for i in range(4)]
    out = read_sink(spark, path)
    assert set(out.columns) == {"k", "dt"}
    assert sorted(r["k"] for r in out.collect()) == sorted(keys)
    # dt stayed a partition DIRECTORY inside the segment
    assert any(
        d.startswith("dt=") for d in os.listdir(seg0)
    )
    assert os.path.getmtime(seg0) == stamp  # size-tiered: never rewritten
    m = load_manifest(path)
    assert len(m["segments"][""]) >= 2  # append mode accumulates segments


def test_bm25_compaction_matches_one_shot(spark, tmp_path):
    """Mixed-mode store (postings/doclen append, stats fold): the
    served ranking hash-equals the one-shot corpus search after
    multiple folds."""
    from sparkstreaming_realtime_spark.operators.retrieval import bm25_search

    path = str(tmp_path / "bm25")
    sink = bm25_index_sink(path, compact_every=2)
    docs = [
        (i, f"alpha beta doc{i} gamma" if i % 2 else f"alpha delta doc{i}")
        for i in range(12)
    ]
    for b in range(6):
        sink(
            spark.createDataFrame(
                docs[b * 2:(b + 1) * 2], "doc_id long, text string"
            ),
            b,
        )
    got = read_bm25_index(spark, path, ["alpha", "beta"], k=5).collect()
    want = bm25_search(
        spark.createDataFrame(docs, "doc_id long, text string"),
        ["alpha", "beta"],
        k=5,
    ).collect()
    assert [(r["doc_id"], r["bm25"]) for r in got] == [
        (r["doc_id"], r["bm25"]) for r in want
    ]
    m = load_manifest(path)
    assert m["segments"]["stats"] == [f"seg={m['gen']}/stats"]  # folded
    assert len(m["segments"]["postings"]) >= 2  # append-mode tiers


def test_copurchase_compaction_keeps_retroactive_support(spark, tmp_path):
    """The support threshold applies to MERGED counts after folds: a
    pair crossing min_support only via post-compaction batches still
    surfaces with its full count."""
    path = str(tmp_path / "cop")
    sink = copurchase_sink(
        path, basket_col="b", item_col="i", compact_every=2
    )
    # pair (x, y) appears once per batch — below support 3 until the
    # 3rd batch, two of which get folded before the threshold is met
    for b in range(5):
        df = spark.createDataFrame(
            [(f"bk{b}", "x"), (f"bk{b}", "y"), (f"bk{b}", f"solo{b}")],
            "b string, i string",
        )
        sink(df, b)
    rows = read_copurchase(spark, path, k=5, min_pair_support=3).collect()
    pairs = {(r["item_a"], r["item_b"]): r["pair_n"] for r in rows}
    assert pairs.get(("x", "y")) == 5
    assert load_manifest(path)["upto"] >= 1


def test_quality_gate_accepted_store_compacts_with_gaps(spark, tmp_path):
    """Quarantined batches leave id gaps in the accepted store; the
    fold marks them covered (their rows live in quarantine/) and the
    accepted read stays exactly the accepted rows."""
    path = str(tmp_path / "gate")
    sink = quality_gate_sink(
        path, [("between", "v", 0.0, 100.0)], compact_every=2
    )
    good, bad = 0, 0
    for b in range(7):
        ok = b % 3 != 2  # batches 2 and 5 quarantine
        df = spark.createDataFrame(
            [(b * 10 + i, float(i if ok else -i)) for i in range(3)],
            "id long, v double",
        )
        sink(df, b)
        good += 3 * ok
        bad += 3 * (not ok)
    acc = read_sink(spark, os.path.join(path, "accepted"))
    assert acc.count() == good
    q = spark.read.parquet(os.path.join(path, "quarantine", "batch=*"))
    assert q.count() == bad
    assert load_manifest(os.path.join(path, "accepted")) is not None
    # verdicts remain one-per-batch (the audit log is never folded)
    assert len(os.listdir(os.path.join(path, "verdicts"))) == 7


def test_bm25_postings_are_term_clustered(spark, tmp_path, monkeypatch):
    """The postings files are range-partitioned + sorted by term, so
    a query's IN predicate reaches parquet as a pushed filter and
    row-group min/max stats can skip non-matching files: per-file
    term ranges must be pairwise disjoint, and the pushdown must
    appear in the physical plan."""
    import glob as g

    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.streaming.sinks import (
        bm25_index_sink,
        read_bm25_index,
    )

    from sparkstreaming_realtime_spark.streaming import sinks as sk

    # shrink the per-file target so the test corpus spans several
    # range partitions (production: 128 MB files)
    monkeypatch.setattr(sk, "TARGET_FILE_BYTES", 4096)
    path = str(tmp_path / "bm25")
    sink = bm25_index_sink(path, compact_every=0)
    # enough distinct terms to spread over several range partitions
    docs = [
        (i, " ".join(f"term{j:03d}" for j in range(i % 40, i % 40 + 12)))
        for i in range(200)
    ]
    sink(spark.createDataFrame(docs, "doc_id long, text string"), 0)
    files = g.glob(f"{path}/batch=0/postings/part-*.parquet")
    ranges = []
    for fp in files:
        r = (
            spark.read.parquet(fp)
            .agg(F.min("term"), F.max("term"))
            .collect()[0]
        )
        if r[0] is not None:
            ranges.append((r[0], r[1]))
    ranges.sort()
    assert len(ranges) >= 2  # the clustering actually split by range
    for (_lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: stats-based skipping works
    plan = read_bm25_index(
        spark, path, ["term005", "term017"], k=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "In(term" in plan.replace(" ", "")


def test_append_mode_segments_are_size_tiered(spark, tmp_path, monkeypatch):
    """Append-mode segments must not grow one-per-generation forever
    (that is lifetime growth one level up): once TIER_FANOUT exist,
    the smallest fanout merge into one — segment count stays bounded,
    rows stay intact, merged dirs get gc'd one interval later."""
    from sparkstreaming_realtime_spark.streaming import store as st
    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
        read_sink,
    )

    monkeypatch.setattr(st, "TIER_FANOUT", 3)
    path = str(tmp_path / "raw")
    sink = idempotent_parquet_sink(
        path, key_cols=("k",), partition_col=None, compact_every=2
    )
    keys = []
    n_batches = 16
    for b in range(n_batches):
        rows = [(f"r{b}_{i}", b) for i in range(4)]
        sink(
            spark.createDataFrame(rows, "k string, v long"), b
        )
        keys += [r[0] for r in rows]
    m = load_manifest(path)
    segs = m["segments"][""]
    # ~8 generations of appends, fanout 3: the segment list stays
    # bounded (merge collapses 3 -> 1 whenever it fills)
    assert len(segs) <= 3
    got = sorted(
        r["k"] for r in read_sink(spark, path).select("k").collect()
    )
    assert got == sorted(keys)
    # every on-disk seg dir is manifest-referenced or gc-pending
    on_disk = {d for d in os.listdir(path) if d.startswith("seg=")}
    referenced = {s.split("/")[0] for s in segs} | {
        d.split("/")[0] for d in m["gc"] if d.startswith("seg=")
    }
    assert on_disk <= referenced
    # replay of the last batch still overwrites cleanly post-merge
    sink(
        spark.createDataFrame(
            [(f"r{n_batches - 1}_{i}", 99) for i in range(4)],
            "k string, v long",
        ),
        n_batches - 1,
    )
    assert read_sink(spark, path).count() == len(keys)


def test_overlap_compact_joins_all_jobs_and_propagates_errors(
    spark, tmp_path
):
    """The shared additive writer runs a batch's sub-frame writes and
    the prior tail's compaction as concurrent jobs: ``write_additive``
    returns only after both finished (the streaming checkpoint commits
    on return), the folded view equals the sequential order's, and a
    failing sub-frame write propagates so the epoch is NOT committed."""
    import pytest
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.streaming.sinks import write_additive
    from sparkstreaming_realtime_spark.streaming.store import SubFold

    path = str(tmp_path / "store")
    folds = {"": SubFold(fold=lambda d: d.groupBy("k").agg(
        F.sum("v").cast("bigint").alias("v")))}
    for b in range(4):
        write_additive(spark, path, b, folds, {"": _rollup_fixture(spark, b)}, 2)
    # on return from the compacting batch, manifest AND batch dir are
    # both present (the join happened before write_additive returned)
    m = load_manifest(path)
    assert m is not None and m["upto"] >= 1
    assert 3 in batch_ids(path)
    assert _got_rollup(spark, path) == _expected_rollup(4)
    # a failing sub-frame write propagates out of the overlap
    boom = spark.range(1).select(F.raise_error(F.lit("boom")).alias("k"))
    with pytest.raises(Exception, match="boom"):
        write_additive(spark, path, 9, {"": SubFold()}, {"": boom}, 2)


def test_store_writes_stay_static_under_a_dynamic_session(spark, tmp_path):
    """A session in ``partitionOverwriteMode=dynamic`` does not leak
    into the stores' own partitioned writes: a tail dir is served (its
    ``_SUCCESS`` marker exists), a replay with fewer ``dt`` values
    leaves no stale partition, and segments carry their marker too."""
    from sparkstreaming_realtime_spark.streaming.store import live_dirs

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    path = str(tmp_path / "raw")
    sink = idempotent_parquet_sink(
        path, key_cols=("k",), partition_col="dt", compact_every=2
    )

    def batch(b, days):
        return spark.createDataFrame(
            [(f"r{b}_{d}", f"2024-01-0{d}") for d in days], "k string, dt string"
        )

    spark.conf.set(key, "dynamic")
    try:
        sink(batch(0, [1, 2]), 0)
        assert "batch=0" in [d[0] for d in live_dirs(path)]
        sink(batch(0, [1]), 0)
        assert os.listdir(os.path.join(path, "batch=0", "dt=2024-01-01"))
        assert not os.path.exists(os.path.join(path, "batch=0", "dt=2024-01-02"))
        assert [r["k"] for r in read_sink(spark, path).collect()] == ["r0_1"]
        for b in (1, 2, 3):
            sink(batch(b, [1, 2]), b)
    finally:
        spark.conf.set(key, before)
    served = [d[0] for d in live_dirs(path)]
    segs = [d for d in served if d.startswith("seg=")]
    assert segs and "batch=3" in served
    for seg in segs:
        assert os.path.exists(os.path.join(path, seg, "_SUCCESS"))
    got = sorted(r["k"] for r in read_sink(spark, path).collect())
    assert got == ["r0_1"] + [f"r{b}_{d}" for b in (1, 2, 3) for d in (1, 2)]
