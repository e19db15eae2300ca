"""Every additive sink (streaming/sinks.py spec table), driven through
one table: five batches at ``compact_every=2`` (so the store holds
segments AND a live tail), then a replay of the last batch, the one
whose write ran the second fold. The live
read must equal the one-shot operator over all rows, before and after
the replay. A second table pins how many Spark jobs each sink's
``write`` launches on a batch that does not compact and on one that
does, so a refactor of the shared writer cannot add a job unseen.

Sinks are driven by calling ``write(batch_df, batch_id)`` directly, the
call ``foreachBatch`` makes, with deterministic batch ids.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sparkstreaming_realtime_spark.operators import basket, cdc, dedup, funnel
from sparkstreaming_realtime_spark.operators import retrieval, sketches
from sparkstreaming_realtime_spark.streaming import sinks

N_BATCHES = 5


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _raw(spark, b):
    # a within-batch duplicate key, and two dt partitions per batch
    return spark.createDataFrame(
        [(f"r{b}_{i}", f"2024-01-0{1 + i % 2}") for i in (0, 1, 2, 2)],
        "k string, dt string",
    )


def _items(spark, b):
    # items recur across batches: the merges must not double-count
    return spark.createDataFrame(
        [(f"w{(b * 3 + i) % 7}",) for i in range(4)], "item string"
    )


def _docs(spark, b):
    # batches partition documents; "footer" recurs in every batch
    return spark.createDataFrame(
        [(b * 10 + i, f"footer\nalpha doc{b} beta\nline {b} {i}")
         for i in range(2)],
        "doc_id long, text string",
    )


def _kv(spark, b):
    return spark.createDataFrame(
        [(f"k{i % 3}", i + b) for i in range(5)], "k string, v long"
    )


def _events(spark, b):
    # a later batch can carry an OLDER day for a user (moves its cohort)
    return spark.createDataFrame(
        [(b * 10 + i, (b + i) % 4, dt.datetime(2024, 1, 1 + (7 - b + i) % 6, 12))
         for i in range(3)],
        "event_id long, user_id long, event_time timestamp",
    )


def _baskets(spark, b):
    # pair (x, y) once per batch: support 3 is reached only across batches
    return spark.createDataFrame(
        [(f"bk{b}", "x"), (f"bk{b}", "y"), (f"bk{b}", f"solo{b % 2}"),
         (f"bq{b}", "x"), (f"bq{b}", f"solo{b % 3}")],
        "b string, i string",
    )


def _cdc(spark, b):
    # ids recur across batches; write times run out of batch order, so
    # a later batch carries writes older than ones already folded,
    # deletes included
    return spark.createDataFrame(
        [("user_info", '{"id":%d,"v":%d}' % (k, b),
          "D" if (b + k) % 4 == 3 else "U", (b * 3 % 5) * 1000 + k, b * 10 + k)
         for k in range(3)],
        "table string, data string, op string, ts_ms long, event_id long",
    )


def _event(eid):
    t0 = dt.datetime(2024, 1, 1, 12)
    return (eid, eid % 3, ("view", "click", "buy")[(eid // 10 + eid) % 3],
            t0 + dt.timedelta(minutes=7 * eid % 50))


def _typed_events(spark, b):
    # events arrive out of time order, and each batch re-delivers one
    # event of the batch before it
    ids = [b * 10 + i for i in range(4)] + ([b * 10 - 10] if b else [])
    return spark.createDataFrame(
        [_event(i) for i in ids],
        "event_id long, user_id long, event_type string, event_time timestamp",
    )


_STAGES = ["view", "click", "buy"]
_SCD2_COLS = ("table", "id", "data", "version", "valid_from", "valid_to",
              "is_current")


CASES = {
    "idempotent": (
        lambda p: sinks.idempotent_parquet_sink(
            p, key_cols=("k",), partition_col="dt", compact_every=2),
        _raw,
        # dt reads back as a partition column, inferred as a date
        lambda spark, p: _rows(sinks.read_sink(spark, p).withColumn(
            "dt", F.col("dt").cast("string")), "k", "dt"),
        lambda df: _rows(df.dropDuplicates(["k"]), "k", "dt"),
    ),
    "count_min": (
        lambda p: sinks.count_min_sink(p, depth=2, width=8, compact_every=2),
        _items,
        lambda spark, p: _rows(sinks.read_count_min(spark, p), "row", "col", "c"),
        lambda df: _rows(sketches.count_min_cells(df, "item", 2, 8),
                         "row", "col", "c"),
    ),
    "kmv": (
        lambda p: sinks.kmv_sink(p, k=3, compact_every=2),
        _items,
        lambda spark, p: _rows(sinks.read_kmv(spark, p, k=3), "h"),
        lambda df: _rows(sketches.kmv_sketch(df, "item", 3), "h"),
    ),
    "line_count": (
        lambda p: sinks.line_count_sink(p, compact_every=2),
        _docs,
        lambda spark, p: _rows(sinks.read_line_counts(spark, p),
                               "line_fp", "n_docs"),
        lambda df: _rows(dedup.line_counts(df), "line_fp", "n_docs"),
    ),
    "rollup_sum": (
        lambda p: sinks.rollup_sum_sink(p, ("k",), "v", compact_every=2),
        _kv,
        lambda spark, p: _rows(sinks.read_rollup_sum(spark, p, ("k",), "v"),
                               "k", "v"),
        lambda df: _rows(df.groupBy("k").agg(F.sum("v").alias("v")), "k", "v"),
    ),
    "retention": (
        lambda p: sinks.retention_sink(p, compact_every=2),
        _events,
        lambda spark, p: _rows(sinks.read_retention(spark, p),
                               "cohort_date", "day_offset", "n_active"),
        lambda df: _rows(funnel.retention_cohorts(df, ts_col="event_time"),
                         "cohort_date", "day_offset", "n_active"),
    ),
    "quality_gate": (
        lambda p: sinks.quality_gate_sink(
            p, [("between", "v", 0, 100)], compact_every=2),
        _kv,
        lambda spark, p: _rows(sinks.read_sink(spark, f"{p}/accepted"), "k", "v"),
        lambda df: _rows(df, "k", "v"),
    ),
    "bm25": (
        lambda p: sinks.bm25_index_sink(p, compact_every=2),
        _docs,
        lambda spark, p: _rows(
            sinks.read_bm25_index(spark, p, ["alpha", "footer"], k=20),
            "doc_id", "bm25"),
        lambda df: _rows(retrieval.bm25_search(df, ["alpha", "footer"], k=20),
                         "doc_id", "bm25"),
    ),
    "copurchase": (
        lambda p: sinks.copurchase_sink(
            p, basket_col="b", item_col="i", compact_every=2),
        _baskets,
        lambda spark, p: _rows(
            sinks.read_copurchase(spark, p, k=20, min_pair_support=3),
            "item_a", "item_b", "pair_n", "n_a", "n_b", "lift"),
        lambda df: _rows(
            basket.copurchase_pairs(df, basket_col="b", item_col="i",
                                    k=20, min_pair_support=3),
            "item_a", "item_b", "pair_n", "n_a", "n_b", "lift"),
    ),
    "dim": (
        lambda p: sinks.dim_upsert_sink(p, compact_every=2),
        _cdc,
        lambda spark, p: _rows(sinks.read_dim_snapshot(spark, p),
                               "table", "id", "data"),
        lambda df: _rows(cdc.dim_snapshot(df, ord_cols=("ts_ms", "event_id")),
                         "table", "id", "data"),
    ),
    "scd2": (
        lambda p: sinks.scd2_sink(p, compact_every=2),
        _cdc,
        lambda spark, p: _rows(sinks.read_scd2(spark, p), *_SCD2_COLS),
        lambda df: _rows(cdc.scd2_history(df), *_SCD2_COLS),
    ),
    "funnel": (
        lambda p: sinks.funnel_sink(p, _STAGES, compact_every=2),
        _typed_events,
        lambda spark, p: _rows(sinks.read_funnel(spark, p, _STAGES),
                               "stage_idx", "stage", "n_users"),
        lambda df: _rows(funnel.funnel(df.dropDuplicates(["event_id"]),
                                       _STAGES, ts_col="event_time"),
                         "stage_idx", "stage", "n_users"),
    ),
    "transition": (
        lambda p: sinks.transition_sink(p, compact_every=2),
        _typed_events,
        lambda spark, p: _rows(sinks.read_transition(spark, p),
                               "from_event", "to_event", "n", "prob"),
        lambda df: _rows(
            funnel.transition_matrix(df.dropDuplicates(["event_id"]),
                                     ts_col="event_time"),
            "from_event", "to_event", "n", "prob"),
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_additive_sink_reads_its_one_shot_fold(spark, tmp_path, name):
    """The live read (segments ∪ tail) equals the one-shot fold of every
    row written, and replaying the last batch leaves it unchanged."""
    from sparkstreaming_realtime_spark.streaming.store import load_manifest

    make, batch, read, one_shot = CASES[name]
    path = str(tmp_path / name)
    sink = make(path)
    frames = [batch(spark, b) for b in range(N_BATCHES)]
    for b, df in enumerate(frames):
        sink(df, b)
    every = frames[0]
    for df in frames[1:]:
        every = every.unionByName(df)
    want = one_shot(every)
    assert want
    assert read(spark, path) == want
    store = f"{path}/accepted" if name == "quality_gate" else path
    assert load_manifest(store)["upto"] == 3  # 0-3 folded, 4 live
    sink(frames[-1], N_BATCHES - 1)  # replay the in-flight batch
    assert read(spark, path) == want


def _jobs_since(spark, since: int, group: str | None = None) -> list[int]:
    """Ids above ``since`` of the jobs in job group ``group`` (None:
    ungrouped), read once the listener bus has caught up: a barrier job
    in a group of its own is submitted last, and the tracker lists it
    only after every earlier job."""
    import time
    import uuid

    sc = spark.sparkContext
    barrier = "barrier-" + uuid.uuid4().hex
    sc.setJobGroup(barrier, "listener bus barrier")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 60
    while not tracker.getJobIdsForGroup(barrier) and time.time() < deadline:
        time.sleep(0.05)
    return sorted(j for j in tracker.getJobIdsForGroup(group) if j > since)


#: Spark jobs one ``write`` launches: (a batch that does not compact, a
#: batch that folds the two before it at compact_every=2). Batches 1 and
#: 3 are plain; batch 2 runs the first fold, batch 4 the second, which
#: also reads the first fold's segment and costs no more.
JOB_BUDGET = {
    "bm25": (6, 15),
    "copurchase": (8, 17),
    "count_min": (2, 5),
    "dim": (1, 4),
    "funnel": (1, 4),
    "idempotent": (2, 5),
    "kmv": (3, 6),
    "line_count": (3, 6),
    "quality_gate": (3, 5),
    "retention": (2, 5),
    "rollup_sum": (2, 5),
    "scd2": (1, 4),
    "transition": (1, 4),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_additive_sink_jobs_per_batch(spark, tmp_path, name):
    """Jobs per ``write`` on plain batches and on compacting batches
    stay at the pinned budget, the second fold included."""
    make, batch, _read, _one_shot = CASES[name]
    sink = make(str(tmp_path / name))
    frames = [batch(spark, b) for b in range(5)]
    sink(frames[0], 0)
    got = []
    for b in (1, 2, 3, 4):
        mark = max(_jobs_since(spark, -1), default=-1)
        sink(frames[b], b)
        got.append(len(_jobs_since(spark, mark)))
    assert tuple(got) == JOB_BUDGET[name] * 2


@pytest.mark.parametrize("name", ["idempotent", "rollup_sum"])
def test_streamed_batch_stays_within_the_job_budget(spark, tmp_path, name):
    """A batch of a stateful query, written through the stream binding,
    launches the plain-batch figure of :data:`JOB_BUDGET`: Spark runs
    the query's batches with AQE off, and the binding gives the writer
    the session's AQE back. The staged stream passes a stateful dedup
    first; a stateless query keeps AQE on by itself."""
    from sparkstreaming_realtime_spark.plans.queries import (
        _drain,
        _staged_stream,
    )

    _make, batch, _read, _one_shot = CASES[name]
    rows = batch(spark, 0)
    for b in range(1, 4):
        rows = rows.unionByName(batch(spark, b))
    root = str(tmp_path / name)
    store = f"{root}/store"
    # four batches stay below the default cadence: none compacts
    sink = (sinks.idempotent_parquet_sink(store, key_cols=("k",))
            if name == "idempotent"
            else sinks.rollup_sum_sink(store, ("k",), "v"))
    stream = _staged_stream(spark, rows, root).dropDuplicates()
    q = _drain(stream, sink, name)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"]])
    jobs = _jobs_since(spark, -1, group=str(q.runId))
    assert n_batches == 4
    assert len(jobs) == n_batches * JOB_BUDGET[name][0]
