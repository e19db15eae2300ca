"""Streaming-semantics tests (SURVEY §5 strategy 3): file source +
Trigger.AvailableNow + foreachBatch, pinning the behaviors the
reference implements with Redis sidecars — cross-batch dedup,
late-arrival stream-stream join, offset restore, idempotent replay.

``maxFilesPerTrigger=1`` makes each fixture file its own micro-batch,
so "cross-batch" is real keyed-state behavior, not within-batch
dedup."""

from __future__ import annotations

import json
import os

import pytest

from sparkstreaming_realtime_spark.streaming import (
    file_stream,
    idempotent_parquet_sink,
    kafka_sink_options,
    kafka_stream_options,
    streaming_dau_dedup,
    streaming_order_wide,
)
from sparkstreaming_realtime_spark.streaming.pipelines import run_available_now
from sparkstreaming_realtime_spark.streaming.sinks import read_sink

PAGE_SCHEMA = (
    "mid string, last_page_id string, page_id string, event_time timestamp"
)


def _write_jsonl(path: str, rows: list[dict] | None = None, seq: int = 0) -> None:
    """Write one fixture micro-batch. ``seq`` pins the file's mtime
    (spaced 10 s apart) — the file source orders batches by
    modification time, and sub-millisecond writes would otherwise
    make batch order nondeterministic."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    base = 1_700_000_000
    os.utime(path, (base + 10 * seq, base + 10 * seq))


def _drain(df, sink_fn, checkpoint):
    q = run_available_now(df, sink_fn, checkpoint)
    q.awaitTermination(120)
    assert not q.isActive


def test_dedup_across_micro_batches(spark, tmp_path):
    """T2: a mid seen in batch 1 must be suppressed in batch 2 (same
    day) — the Redis sismember/sadd semantics via keyed state — while
    the same mid on ANOTHER day passes (per-day scope)."""
    src = str(tmp_path / "src")
    _write_jsonl(f"{src}/b1.json", seq=1, rows=[
        {"mid": "m1", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-01 08:00:00"},
        {"mid": "m2", "last_page_id": "home", "page_id": "cart",
         "event_time": "2024-01-01 08:01:00"},  # not a session entry
    ])
    _write_jsonl(f"{src}/b2.json", seq=2, rows=[
        {"mid": "m1", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-01 09:00:00"},  # dup within day → drop
        {"mid": "m1", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-02 08:00:00"},  # next day → new row
        {"mid": "m3", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-01 10:00:00"},
    ])
    stream = file_stream(spark, src, PAGE_SCHEMA, max_files_per_trigger=1)
    out = str(tmp_path / "out")
    _drain(streaming_dau_dedup(stream),
           idempotent_parquet_sink(out, key_cols=("mid", "dt")),
           str(tmp_path / "ckpt"))
    # dt comes back as DateType via partition-column inference
    got = sorted(
        (r["mid"], str(r["dt"])) for r in read_sink(spark, out).collect()
    )
    assert got == [("m1", "2024-01-01"), ("m1", "2024-01-02"),
                   ("m3", "2024-01-01")]


INFO_SCHEMA = "id long, user_id long, total_amount double, event_time timestamp"
DETAIL_SCHEMA = (
    "id long, order_id long, sku_id long, order_price double,"
    " event_time timestamp"
)


def test_order_join_matches_across_batches(spark, tmp_path):
    """J3/T3: info arriving in batch 1 joins a detail arriving only in
    batch 2 (the Redis cache-then-match path, DwdOrderApp.scala:183-232),
    1:N preserved."""
    isrc, dsrc = str(tmp_path / "info"), str(tmp_path / "detail")
    _write_jsonl(f"{isrc}/b1.json", seq=1, rows=[
        {"id": 1, "user_id": 10, "total_amount": 99.0,
         "event_time": "2024-01-01 08:00:00"},
    ])
    _write_jsonl(f"{dsrc}/b1.json", seq=1, rows=[
        {"id": 101, "order_id": 1, "sku_id": 7, "order_price": 49.5,
         "event_time": "2024-01-01 08:00:05"},
    ])
    _write_jsonl(f"{dsrc}/b2.json", seq=2, rows=[
        {"id": 102, "order_id": 1, "sku_id": 8, "order_price": 49.5,
         "event_time": "2024-01-01 08:10:00"},  # late second detail
        {"id": 103, "order_id": 2, "sku_id": 9, "order_price": 5.0,
         "event_time": "2024-01-01 08:11:00"},  # info never arrives
    ])
    joined = streaming_order_wide(
        file_stream(spark, isrc, INFO_SCHEMA, max_files_per_trigger=1),
        file_stream(spark, dsrc, DETAIL_SCHEMA, max_files_per_trigger=1),
    )
    out = str(tmp_path / "out")
    _drain(joined, idempotent_parquet_sink(out, key_cols=("detail_id",),
                                           partition_col=None),
           str(tmp_path / "ckpt"))
    rows = read_sink(spark, out).collect()
    got = sorted((r["order_id"], r["detail_id"], r["sku_id"]) for r in rows)
    # both details of order 1 joined; orphan detail 103 not emitted
    assert got == [(1, 101, 7), (1, 102, 8)]
    assert {r["total_amount"] for r in rows} == {99.0}


def test_checkpoint_restores_offsets(spark, tmp_path):
    """S3/S4/K10: a second run over the same checkpoint must process
    ONLY newly arrived data — offset restore/commit with no replay,
    the MyOffsetUtils contract, for free."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    _write_jsonl(f"{src}/b1.json", seq=1, rows=[
        {"mid": "m1", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-01 08:00:00"}])
    sink = idempotent_parquet_sink(out, key_cols=("mid", "dt"))
    _drain(streaming_dau_dedup(file_stream(spark, src, PAGE_SCHEMA)), sink, ckpt)
    n_after_first = read_sink(spark, out).count()
    # restart with one new file: only it is processed (and state
    # survives: m1 on the same day stays deduped)
    _write_jsonl(f"{src}/b2.json", seq=2, rows=[
        {"mid": "m1", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-01 09:00:00"},
        {"mid": "m9", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-01 09:01:00"}])
    _drain(streaming_dau_dedup(file_stream(spark, src, PAGE_SCHEMA)), sink, ckpt)
    got = sorted(
        (r["mid"], str(r["dt"])) for r in read_sink(spark, out).collect()
    )
    assert n_after_first == 1
    assert got == [("m1", "2024-01-01"), ("m9", "2024-01-01")]


def test_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    """The session commits checkpoints through
    ``FileSystemBasedCheckpointFileManager`` (a plain ``File.renameTo``,
    no forked ``readlink``) with the contract of Spark's default
    manager: a non-overwriting ``createAtomic`` onto an existing file
    fails and keeps the old bytes, and ``cancel()`` leaves no temp
    file behind."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    fm = mgr.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(tmp_path.as_uri()), hconf
    )
    assert fm.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )

    def write(rel: str, data: bytes, cancel: bool = False) -> None:
        out = fm.createAtomic(
            jvm.org.apache.hadoop.fs.Path((tmp_path / rel).as_uri()), False
        )
        out.write(bytearray(data))
        out.cancel() if cancel else out.close()

    write("log/0", b"old")
    with pytest.raises(Py4JJavaError) as err:
        write("log/0", b"new")
    exists = jvm.java.lang.Class.forName(
        "org.apache.hadoop.fs.FileAlreadyExistsException"
    )
    assert exists.isInstance(err.value.java_exception)
    assert (tmp_path / "log" / "0").read_bytes() == b"old"

    write("cancelled/0", b"partial", cancel=True)
    assert list((tmp_path / "cancelled").iterdir()) == []


def test_get_spark_keeps_checkpoint_integrity_defaults(spark):
    """Switching the checkpoint manager must not switch off an
    integrity check: no checksum or local-FS implementation key is set,
    so Spark's checkpoint checksums stay at their default (on)."""
    keys = [k for k, _ in spark.sparkContext.getConf().getAll()]
    for banned in ("fileChecksum", "fs.file.impl", "AbstractFileSystem.file.impl"):
        assert not [k for k in keys if banned in k], banned
    assert (
        spark.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled")
        == "true"
    )


def test_dau_drain_checksums_state_and_restarts_without_replay(spark, tmp_path):
    """Every state-store delta of a 2-batch DAU drain carries both the
    Hadoop ``.N.delta.crc`` and Spark's ``N.delta.crc`` checksum file,
    and a restart on the same checkpoint runs only new batch ids and
    keeps the dedup state."""
    import glob

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")

    def entry(mid, ts):
        return {"mid": mid, "last_page_id": None, "page_id": "home",
                "event_time": f"2024-01-01 {ts}"}

    _write_jsonl(f"{src}/b1.json", seq=1,
                 rows=[entry("m1", "08:00:00"), entry("m2", "08:01:00")])
    _write_jsonl(f"{src}/b2.json", seq=2,
                 rows=[entry("m1", "09:00:00"), entry("m3", "09:01:00")])
    seen: list[tuple[int, list[str]]] = []

    def sink(bdf, bid):
        seen.append((bid, sorted(r["mid"] for r in bdf.collect())))

    def drain():
        stream = file_stream(spark, src, PAGE_SCHEMA, max_files_per_trigger=1)
        _drain(streaming_dau_dedup(stream), sink, ckpt)

    drain()
    assert [m for _, ms in seen for m in ms] == ["m1", "m2", "m3"]
    deltas = glob.glob(f"{ckpt}/state/*/*/*.delta")
    assert deltas
    for path in deltas:
        d, name = os.path.split(path)
        assert os.path.exists(f"{d}/.{name}.crc"), path
        assert os.path.exists(f"{d}/{name}.crc"), path

    first_ids = [bid for bid, _ in seen]
    seen.clear()
    _write_jsonl(f"{src}/b3.json", seq=3,
                 rows=[entry("m2", "10:00:00"), entry("m4", "10:01:00")])
    drain()
    assert min(bid for bid, _ in seen) > max(first_ids)
    assert [m for _, ms in seen for m in ms] == ["m4"]


def test_dau_drain_writer_plans_adaptively_state_does_not(spark, tmp_path):
    """Spark runs a stateful query's micro-batches with AQE off; the
    binding gives the writer the starting session's setting back, so a
    small DAU batch writes one file per ``dt`` dir instead of one per
    shuffle partition. The state keeps ``spark.sql.shuffle.partitions``
    partitions and a non-adaptive plan, a restart runs only new batch
    ids, and a query started from a session with AQE off keeps it off."""
    aqe = "spark.sql.adaptive.enabled"
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def entries(batch: int) -> list[dict]:
        return [{"mid": f"m{batch}_{i}", "last_page_id": None,
                 "page_id": "home", "event_time": f"2024-01-0{1 + i % 2} 08:00:00"}
                for i in range(60)]

    _write_jsonl(f"{src}/b1.json", seq=1, rows=entries(1))
    _write_jsonl(f"{src}/b2.json", seq=2, rows=entries(2))
    seen: list[tuple[int, str]] = []

    def drain(session, sink_out: str, ckpt_dir: str):
        inner = idempotent_parquet_sink(sink_out, key_cols=("mid", "dt"))

        def sink(bdf, bid):
            seen.append((bid, bdf.sparkSession.conf.get(aqe)))
            inner(bdf, bid)

        stream = file_stream(session, src, PAGE_SCHEMA, max_files_per_trigger=1)
        q = run_available_now(streaming_dau_dedup(stream), sink, ckpt_dir)
        q.awaitTermination(120)
        assert not q.isActive and q.exception() is None
        return q

    q = drain(spark, out, ckpt)
    assert seen == [(0, "true"), (1, "true")]
    assert spark.conf.get(aqe) == "true"
    dt_dirs = [os.path.join(out, f"batch={b}", d)
               for b in (0, 1) for d in os.listdir(os.path.join(out, f"batch={b}"))
               if d.startswith("dt=")]
    assert len(dt_dirs) == 4
    for d in dt_dirs:
        assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1, d
    parts = os.listdir(os.path.join(ckpt, "state", "0"))
    assert len([p for p in parts if p.isdigit()]) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    plan = q._jsq.explainInternal(False)
    assert "Deduplicate" in plan and "AdaptiveSparkPlan" not in plan
    assert sorted(r["mid"] for r in read_sink(spark, out).collect()) == sorted(
        r["mid"] for b in (1, 2) for r in entries(b))

    _write_jsonl(f"{src}/b3.json", seq=3, rows=entries(3))
    seen.clear()
    drain(spark, out, ckpt)
    assert seen == [(2, "true")]

    off = spark.newSession()
    off.conf.set(aqe, "false")
    seen.clear()
    drain(off, str(tmp_path / "out_off"), str(tmp_path / "ckpt_off"))
    assert seen == [(0, "false"), (1, "false"), (2, "false")]


def test_idempotent_sink_replay_overwrites(spark, tmp_path):
    """T5: replaying the same batch id must not duplicate output —
    the engine analog of ES doc-id overwrites (MyEsUtils.scala:47)."""
    out = str(tmp_path / "out")
    sink = idempotent_parquet_sink(out, key_cols=("k",), partition_col=None)
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 1)], "k string, v int")
    sink(df, batch_id=7)
    sink(df, batch_id=7)  # replay
    rows = read_sink(spark, out).collect()
    assert sorted(r["k"] for r in rows) == ["a", "b"]  # batch-dedup + overwrite


def test_kafka_option_builders():
    """S1/S2/K1: option-level coverage for the Kafka source/sink (no
    broker in this environment; shapes match the reference configs,
    MykafkaUtils.scala:19-36,84-94)."""
    src = kafka_stream_options("ODS_BASE_LOG", "g1", "broker:9092")
    assert src["subscribe"] == "ODS_BASE_LOG"
    assert src["startingOffsets"] == "latest"  # auto.offset.reset :28
    assert src["kafka.group.id"] == "g1"
    explicit = kafka_stream_options(
        "t", "g", starting_offsets='{"t":{"0":42}}')
    assert explicit["startingOffsets"] == '{"t":{"0":42}}'
    capped = kafka_stream_options("t", "g", max_offsets_per_trigger=100_000)
    assert capped["maxOffsetsPerTrigger"] == "100000"
    snk = kafka_sink_options("DWD_PAGE_LOG_TOPIC", "broker:9092")
    assert snk["topic"] == "DWD_PAGE_LOG_TOPIC"
    # producer idempotence + acks=all (MykafkaUtils.scala:86-90)
    assert snk["kafka.enable.idempotence"] == "true"
    assert snk["kafka.acks"] == "all"


EVENTS_SCHEMA = "event_type string, value double, event_time timestamp"


def test_windowed_rollup_with_watermark(spark, tmp_path):
    """T6/T7: watermarked hourly windows finalize in append mode once
    event time passes window end + lateness; late-beyond-watermark
    rows are dropped."""
    src = str(tmp_path / "src")
    _write_jsonl(f"{src}/b1.json", seq=1, rows=[
        {"event_type": "view", "value": 1.0, "event_time": "2024-01-01 08:05:00"},
        {"event_type": "view", "value": 2.0, "event_time": "2024-01-01 08:55:00"},
        {"event_type": "click", "value": 5.0, "event_time": "2024-01-01 08:30:00"},
    ])
    _write_jsonl(f"{src}/b2.json", seq=2, rows=[
        # advances watermark far past 09:00 → 08:00 windows finalize
        {"event_type": "view", "value": 9.0, "event_time": "2024-01-01 23:00:00"},
    ])
    # spacer batch: Spark filters late events against the PREVIOUS
    # batch's watermark (lenient late-filter) while evicting with the
    # current one, so the advance must be two batches before the late
    # row for the drop to engage.
    _write_jsonl(f"{src}/b3.json", seq=3, rows=[
        {"event_type": "view", "value": 9.5, "event_time": "2024-01-01 23:30:00"},
    ])
    _write_jsonl(f"{src}/b4.json", seq=4, rows=[
        # late for the (long-finalized) 08:00 window → dropped
        {"event_type": "view", "value": 100.0, "event_time": "2024-01-01 08:10:00"},
    ])
    from sparkstreaming_realtime_spark.streaming.pipelines import (
        streaming_hourly_rollup,
    )

    rolled = streaming_hourly_rollup(
        file_stream(spark, src, EVENTS_SCHEMA, max_files_per_trigger=1))
    out = str(tmp_path / "out")
    sink = idempotent_parquet_sink(out, key_cols=("hour_start", "event_type"),
                                   partition_col=None)
    q = (rolled.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {
        (str(r["hour_start"]), r["event_type"]): (r["n"], r["sum_value"])
        for r in read_sink(spark, out).collect()
    }
    # finalized 08:00 windows reflect only the on-time rows
    assert got[("2024-01-01 08:00:00", "view")] == (2, 3.0)
    assert got[("2024-01-01 08:00:00", "click")] == (1, 5.0)
    # the 23:00 window is not finalized (watermark never passed it)
    assert ("2024-01-01 23:00:00", "view") not in got


def test_streaming_multiplex_matches_batch_split(spark, tmp_path):
    """P9 streaming binding: the foreachBatch 5-way multiplex produces
    exactly what the batch log_split produces on the same records."""
    import glob

    from sparkstreaming_realtime_spark.operators.log_split import log_split
    from sparkstreaming_realtime_spark.streaming.pipelines import multiplex_sink

    rows = [
        {"common": {"mid": "m1", "uid": "1", "ar": "1", "ch": "c", "is_new": "1",
                    "md": "m", "os": "o", "vc": "v", "ba": "b"},
         "page": {"page_id": "home", "item": "1", "item_type": "sku_id",
                  "during_time": 5, "source_type": "s"},
         "displays": [{"display_type": "promo", "item": "2",
                       "item_type": "sku_id", "pos_id": "1", "order": "1"}],
         "ts": 1000},
        {"common": {"mid": "m2", "uid": "2", "ar": "1", "ch": "c", "is_new": "0",
                    "md": "m", "os": "o", "vc": "v", "ba": "b"},
         "err": "x", "ts": 2000},
    ]
    src = str(tmp_path / "src")
    _write_jsonl(f"{src}/b1.json", seq=1, rows=[{"value": json.dumps(r)} for r in rows])
    stream = file_stream(spark, src, "value string")
    base = str(tmp_path / "mux")
    q = run_available_now(stream, multiplex_sink(base), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    batch_raw = spark.createDataFrame(
        [(json.dumps(r),) for r in rows], "value string")
    expected = {k: sorted(map(tuple, v.collect()))
                for k, v in log_split(batch_raw).items()}
    for name, want in expected.items():
        files = glob.glob(f"{base}/{name}/batch=*")
        got = (sorted(map(tuple, spark.read.parquet(*files).collect()))
               if files and any(glob.glob(f"{f}/*.parquet") for f in files)
               else [])
        assert got == want, name


def test_apply_in_pandas_with_state_accumulates(spark, tmp_path):
    """Custom keyed state (applyInPandasWithState): per-key running
    totals must carry across micro-batches — the typed replacement for
    the reference's Redis accumulators."""
    from sparkstreaming_realtime_spark.streaming.stateful import running_profiles

    src = str(tmp_path / "src")
    _write_jsonl(f"{src}/b1.json", seq=1, rows=[
        {"key": "a", "value": 1.0}, {"key": "a", "value": 2.0},
        {"key": "b", "value": 10.0}])
    _write_jsonl(f"{src}/b2.json", seq=2, rows=[
        {"key": "a", "value": 4.0}])
    stream = file_stream(spark, src, "key string, value double",
                         max_files_per_trigger=1)
    seen = []

    def sink(bdf, bid):
        seen.extend((bid, r["key"], r["n_events"], r["sum_value"])
                    for r in bdf.collect())

    q = (running_profiles(stream).writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    final = {k: (n, s) for _, k, n, s in seen}
    assert final["a"] == (3, 7.0)   # state accumulated across batches
    assert final["b"] == (1, 10.0)
    # batch 1 (the second file) saw only 'a', already including batch-0 state
    last_batch = [t for t in seen if t[0] == max(x[0] for x in seen)]
    assert last_batch == [(1, "a", 3, 7.0)]


def test_corpus_dedup_across_micro_batches(spark, tmp_path):
    """Streaming corpus dedup: a near-dup arriving in a LATER
    micro-batch is rejected against the corpus built by earlier
    batches; within-batch dups are rejected too; novel docs grow the
    corpus."""
    from sparkstreaming_realtime_spark.streaming.pipelines import corpus_dedup_sink

    base = "spark query engine reads parquet files fast and well "
    src = str(tmp_path / "docs")
    _write_jsonl(f"{src}/b1.json", seq=1, rows=[
        {"doc_id": 1, "text": base * 5},
        {"doc_id": 2, "text": "completely different words about other topics"},
    ])
    _write_jsonl(f"{src}/b2.json", seq=2, rows=[
        # near-dup of doc 1 (previous batch) → rejected vs corpus
        {"doc_id": 3, "text": base * 5 + "tail "},
        # novel → kept
        {"doc_id": 4, "text": "fresh unrelated content entirely here today"},
        # 5 and 6 are within-batch dups → 6 rejected intra-batch
        {"doc_id": 5, "text": "ducks swim across the quiet green pond daily " * 5},
        {"doc_id": 6, "text": "ducks swim across the quiet green pond daily " * 5},
    ])
    stream = file_stream(spark, src, "doc_id long, text string",
                         max_files_per_trigger=1)
    corpus, rejected = str(tmp_path / "corpus"), str(tmp_path / "rejected")
    _drain(stream, corpus_dedup_sink(corpus, rejected, threshold=0.6),
           str(tmp_path / "ckpt"))
    kept_ids = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert kept_ids == [1, 2, 4, 5]
    rej = sorted((r["new_id"], r["corpus_id"])
                 for r in spark.read.parquet(rejected).collect())
    assert rej == [(3, 1), (6, 5)]


def test_curation_sink_across_micro_batches(spark, tmp_path):
    """Streaming curation funnel: the quality gate drops a repetitive
    doc; an exact duplicate arriving in a LATER batch is rejected
    against the corpus grown by earlier batches (first batch claims
    the fingerprint); within-batch dups keep the min doc_id; per-batch
    stats accumulate to the batch totals."""
    from sparkstreaming_realtime_spark.streaming.pipelines import curation_sink

    good_a = " ".join(f"alpha{i}" for i in range(40))
    good_b = " ".join(f"beta{i}" for i in range(40))
    src = str(tmp_path / "docs")
    _write_jsonl(f"{src}/b1.json", seq=1, rows=[
        {"doc_id": 1, "lang": "en", "text": good_a},
        {"doc_id": 2, "lang": "en", "text": "spam " * 30},  # fails gate
        # within-batch dup of 1 → min-id (1) wins
        {"doc_id": 3, "lang": "en", "text": good_a},
    ])
    _write_jsonl(f"{src}/b2.json", seq=2, rows=[
        # exact dup of batch-1's kept doc → rejected vs grown corpus
        {"doc_id": 4, "lang": "en", "text": good_a},
        {"doc_id": 5, "lang": "de", "text": good_b},  # novel → kept
    ])
    stream = file_stream(
        spark, src, "doc_id long, lang string, text string",
        max_files_per_trigger=1,
    )
    corpus = str(tmp_path / "corpus")
    stats = str(tmp_path / "stats")
    _drain(stream, curation_sink(corpus, stats), str(tmp_path / "ckpt"))
    kept = sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())
    assert kept == [1, 5]
    from pyspark.sql import functions as F

    totals = {
        r["lang"]: (r["nr"], r["nq"])
        for r in spark.read.parquet(stats)
        .groupBy("lang")
        .agg(F.sum("n_raw").alias("nr"), F.sum("n_quality").alias("nq"))
        .collect()
    }
    assert totals == {"en": (4, 3), "de": (1, 1)}


def test_curation_sink_replay_keeps_its_batch(spark, tmp_path):
    """Replaying a batch of the curation funnel rewrites the same kept
    docs: a batch checks its fingerprints only against the committed
    batches below it, never against its own earlier attempt."""
    from sparkstreaming_realtime_spark.streaming.pipelines import curation_sink

    good_a = " ".join(f"alpha{i}" for i in range(40))
    good_b = " ".join(f"beta{i}" for i in range(40))
    schema = "doc_id long, lang string, text string"
    b0 = spark.createDataFrame(
        [(1, "en", good_a), (2, "en", "spam " * 30)], schema
    )
    b1 = spark.createDataFrame([(4, "en", good_a), (5, "de", good_b)], schema)
    corpus = str(tmp_path / "corpus")
    sink = curation_sink(corpus, str(tmp_path / "stats"))
    sink(b0, 0)
    sink(b1, 1)

    def kept():
        return sorted(r["doc_id"] for r in spark.read.parquet(corpus).collect())

    assert kept() == [1, 5]
    sink(b1, 1)  # replay
    assert kept() == [1, 5]


CDC_SCHEMA = "table string, data string, op string, ts_ms long, event_id long"


def test_dim_upsert_sink_maintains_snapshot_across_batches(spark, tmp_path):
    """K4 streaming binding: the dim snapshot must evolve across
    micro-batches with last-write-wins per (table, id) and delete
    tombstones — and the final state must equal the batch
    dim_snapshot over the concatenation of all batches."""
    from sparkstreaming_realtime_spark.operators.cdc import dim_snapshot
    from sparkstreaming_realtime_spark.streaming.sinks import dim_upsert_sink

    src = str(tmp_path / "src")
    b1 = [
        {"table": "user_info", "data": '{"id":1,"v":10}', "op": "I",
         "ts_ms": 1000, "event_id": 1},
        {"table": "user_info", "data": '{"id":2,"v":20}', "op": "I",
         "ts_ms": 1001, "event_id": 2},
    ]
    b2 = [
        # overwrite id 1, delete id 2, insert id 3
        {"table": "user_info", "data": '{"id":1,"v":11}', "op": "U",
         "ts_ms": 2000, "event_id": 3},
        {"table": "user_info", "data": '{"id":2,"v":0}', "op": "D",
         "ts_ms": 2001, "event_id": 4},
        {"table": "base_province", "data": '{"id":3,"v":30}', "op": "I",
         "ts_ms": 2002, "event_id": 5},
    ]
    _write_jsonl(f"{src}/b1.json", seq=1, rows=b1)
    _write_jsonl(f"{src}/b2.json", seq=2, rows=b2)
    snap_path = str(tmp_path / "snap")
    stream = file_stream(spark, src, CDC_SCHEMA, max_files_per_trigger=1)
    _drain(stream, dim_upsert_sink(snap_path), str(tmp_path / "ckpt"))

    from sparkstreaming_realtime_spark.streaming.sinks import (
        read_dim_snapshot,
    )

    got = sorted(
        (r["table"], r["id"], r["data"])
        for r in read_dim_snapshot(spark, snap_path).collect()
    )
    assert got == [
        ("base_province", "3", '{"id":3,"v":30}'),
        ("user_info", "1", '{"id":1,"v":11}'),
    ]

    # equivalence with the batch operator over the full record set
    all_rows = spark.createDataFrame(
        [tuple(r.values()) for r in b1 + b2], CDC_SCHEMA
    )
    batch = sorted(
        (r["table"], r["id"], r["data"])
        for r in dim_snapshot(all_rows, ord_cols=("ts_ms", "event_id")).collect()
    )
    assert got == batch


def test_dim_upsert_sink_replay_is_idempotent(spark, tmp_path):
    """T5 for the dim store: re-delivering the most recent batch (the
    at-least-once failure mode) must merge to the identical
    snapshot."""
    from sparkstreaming_realtime_spark.streaming.sinks import dim_upsert_sink

    rows = [
        ("user_info", '{"id":1,"v":10}', "I", 1000, 1),
        ("user_info", '{"id":1,"v":11}', "U", 2000, 2),
        ("user_info", '{"id":2,"v":20}', "D", 2001, 3),
    ]
    batch = spark.createDataFrame(rows, CDC_SCHEMA)
    snap = str(tmp_path / "snap")
    sink = dim_upsert_sink(snap)
    sink(batch, 0)
    from sparkstreaming_realtime_spark.streaming.sinks import (
        read_dim_snapshot,
    )

    first = sorted(map(tuple, read_dim_snapshot(spark, snap).collect()))
    sink(batch, 0)  # replay of the same epoch
    second = sorted(map(tuple, read_dim_snapshot(spark, snap).collect()))
    assert first == second
    assert [(r[0], r[1]) for r in first] == [("user_info", "1")]


def test_dim_upsert_sink_late_write_older_than_delete_stays_deleted(
    spark, tmp_path
):
    """A write that arrives after a delete of its key but is OLDER
    than the delete must not bring the key back: the snapshot equals
    the one-shot dim_snapshot over all writes, which has no id 6."""
    from sparkstreaming_realtime_spark.operators.cdc import dim_snapshot
    from sparkstreaming_realtime_spark.streaming.sinks import (
        dim_upsert_sink,
        read_dim_snapshot,
    )

    batches = [
        [("user_info", '{"id":6,"v":1}', "I", 1000, 1)],
        [("user_info", '{"id":6,"v":1}', "D", 3000, 2)],
        [("user_info", '{"id":6,"v":2}', "U", 2000, 3)],
    ]
    snap = str(tmp_path / "snap")
    sink = dim_upsert_sink(snap)
    for b, rows in enumerate(batches):
        sink(spark.createDataFrame(rows, CDC_SCHEMA), b)
    got = read_dim_snapshot(spark, snap).collect()
    want = dim_snapshot(
        spark.createDataFrame([r for rows in batches for r in rows],
                              CDC_SCHEMA),
        ord_cols=("ts_ms", "event_id"),
    ).collect()
    assert want == []
    assert [(r["table"], r["id"], r["data"]) for r in got] == []


def test_scd2_sink_builds_history_across_batches(spark, tmp_path):
    """Streaming SCD2: a later batch must CLOSE the open version of a
    key (cross-batch interval closing), deletes close but emit no
    row, untouched keys carry over — and the final history must equal
    the batch scd2_history over the concatenation of all batches."""
    from sparkstreaming_realtime_spark.operators.cdc import scd2_history
    from sparkstreaming_realtime_spark.streaming.sinks import (
        read_scd2,
        scd2_sink,
    )

    src = str(tmp_path / "src")
    b1 = [
        {"table": "user_info", "data": '{"id":1,"v":10}', "op": "I",
         "ts_ms": 1000, "event_id": 1},
        {"table": "user_info", "data": '{"id":2,"v":20}', "op": "I",
         "ts_ms": 1001, "event_id": 2},
        {"table": "base_province", "data": '{"id":9,"v":90}', "op": "I",
         "ts_ms": 1002, "event_id": 3},
    ]
    b2 = [
        # new version of id 1 (closes v1), delete id 2 (closes, no row)
        {"table": "user_info", "data": '{"id":1,"v":11}', "op": "U",
         "ts_ms": 2000, "event_id": 4},
        {"table": "user_info", "data": '{"id":2,"v":0}', "op": "D",
         "ts_ms": 2001, "event_id": 5},
    ]
    _write_jsonl(f"{src}/b1.json", seq=1, rows=b1)
    _write_jsonl(f"{src}/b2.json", seq=2, rows=b2)
    hist_path = str(tmp_path / "hist")
    stream = file_stream(spark, src, CDC_SCHEMA, max_files_per_trigger=1)
    _drain(stream, scd2_sink(hist_path), str(tmp_path / "ckpt"))

    key = lambda r: (r["table"], r["id"], r["version"])  # noqa: E731
    got = {
        key(r): (r["data"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in read_scd2(spark, hist_path).collect()
    }
    assert got[("user_info", "1", 1)] == ('{"id":1,"v":10}', 1000, 2000, 0)
    assert got[("user_info", "1", 2)] == ('{"id":1,"v":11}', 2000, None, 1)
    # id 2: v1 closed by the delete at 2001; the delete has no row
    assert got[("user_info", "2", 1)] == ('{"id":2,"v":20}', 1001, 2001, 0)
    assert ("user_info", "2", 2) not in got
    # untouched key carried over open
    assert got[("base_province", "9", 1)] == ('{"id":9,"v":90}', 1002, None, 1)

    all_rows = spark.createDataFrame(
        [tuple(r.values()) for r in b1 + b2], CDC_SCHEMA
    )
    batch = {
        key(r): (r["data"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(all_rows).collect()
    }
    assert got == batch


def test_scd2_sink_replay_is_idempotent(spark, tmp_path):
    """T5 for SCD2: re-delivering a batch (at-least-once) must leave
    the history identical — the write-order dedupe absorbs it."""
    from sparkstreaming_realtime_spark.streaming.sinks import (
        read_scd2,
        scd2_sink,
    )

    rows = [
        {"table": "user_info", "data": '{"id":1,"v":10}', "op": "I",
         "ts_ms": 1000, "event_id": 1},
        {"table": "user_info", "data": '{"id":1,"v":11}', "op": "U",
         "ts_ms": 2000, "event_id": 2},
    ]
    batch = spark.createDataFrame(
        [tuple(r.values()) for r in rows], CDC_SCHEMA
    )
    hist_path = str(tmp_path / "hist")
    sink = scd2_sink(hist_path)
    sink(batch, 0)
    first = sorted(map(tuple, read_scd2(spark, hist_path).collect()))
    sink(batch, 0)  # replay
    second = sorted(map(tuple, read_scd2(spark, hist_path).collect()))
    assert first == second
    assert len(first) == 2


def test_quality_gate_sink_routes_batches_by_verdict(spark, tmp_path):
    """Streaming quality gate: a clean micro-batch lands in accepted,
    a batch with a planted violation lands WHOLE in quarantine (no
    partial admission), the verdict frame records which check broke,
    and a replayed batch overwrites its previous attempt (T5)."""
    from sparkstreaming_realtime_spark.streaming.sinks import (
        quality_gate_sink,
    )

    src = str(tmp_path / "src")
    good = [{"id": 1, "v": 5.0}, {"id": 2, "v": 7.0}]
    bad = [{"id": 3, "v": 50.0}, {"id": 3, "v": -2.0}]  # dup id + range
    _write_jsonl(f"{src}/b1.json", seq=1, rows=good)
    _write_jsonl(f"{src}/b2.json", seq=2, rows=bad)
    gate = str(tmp_path / "gate")
    suite = [("unique", "id"), ("between", "v", 0, 100)]
    stream = file_stream(spark, src, "id long, v double",
                         max_files_per_trigger=1)
    _drain(stream, quality_gate_sink(gate, suite), str(tmp_path / "ckpt"))

    accepted = sorted(
        r["id"] for r in spark.read.parquet(f"{gate}/accepted").collect()
    )
    quarantined = sorted(
        r["id"] for r in spark.read.parquet(f"{gate}/quarantine").collect()
    )
    assert accepted == [1, 2]
    assert quarantined == [3, 3]  # the WHOLE bad batch, not a subset
    verdicts = {
        (r["batch"], r["check"]): r["passed"]
        for r in spark.read.option("basePath", f"{gate}/verdicts")
        .parquet(f"{gate}/verdicts/batch=*").collect()
    }
    bad_batch = max(b for b, _ in verdicts)
    good_batch = min(b for b, _ in verdicts)
    assert verdicts[(good_batch, "unique:id")] == 1
    assert verdicts[(bad_batch, "unique:id")] == 0
    assert verdicts[(bad_batch, "between:v")] == 0
    # replay: re-deliver the bad batch, state unchanged
    sink = quality_gate_sink(gate, suite)
    bad_df = spark.createDataFrame([(3, 50.0), (3, -2.0)], "id long, v double")
    sink(bad_df, bad_batch)
    assert sorted(
        r["id"] for r in spark.read.parquet(f"{gate}/quarantine").collect()
    ) == [3, 3]
    # the written verdict reads back as the suite's own verdict frame
    from sparkstreaming_realtime_spark.operators.expectations import (
        check_expectations,
    )

    want = check_expectations(bad_df, suite)
    got = spark.read.parquet(f"{gate}/verdicts/batch={bad_batch}")
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_quality_gate_sink_accepts_empty_batch_with_defined_verdicts(
    spark, tmp_path
):
    """A routine EMPTY micro-batch must not be quarantined: ratio
    expectations coalesce their 0/0 to the vacuous value (no
    violations / full coverage), so the verdict rows are defined
    (never NULL) and the batch routes to accepted — while a
    row_count floor still fails an empty batch, which is the one
    check that should."""
    from sparkstreaming_realtime_spark.streaming.sinks import (
        quality_gate_sink,
    )

    gate = str(tmp_path / "gate")
    suite = [
        ("not_null", "id", 0.0),
        ("accepted_values", "cat", ("a", "b"), 0.9),
        ("between", "v", 0, 100),
        ("unique", "id"),
    ]
    empty = spark.createDataFrame([], "id long, cat string, v double")
    quality_gate_sink(gate, suite)(empty, 0)
    verdicts = spark.read.parquet(f"{gate}/verdicts/batch=0").collect()
    assert len(verdicts) == 4
    assert all(r["passed"] == 1 for r in verdicts)  # defined, not NULL
    assert spark.read.parquet(f"{gate}/accepted/batch=0").count() == 0
    assert not os.path.exists(f"{gate}/quarantine")
    # a row-count floor is the check that SHOULD fail empty input
    gate2 = str(tmp_path / "gate2")
    quality_gate_sink(gate2, [("row_count", 1, 10)])(empty, 0)
    assert os.path.exists(f"{gate2}/quarantine/batch=0")


def test_observe_metrics_surface_per_batch(spark, tmp_path):
    """with_batch_metrics: every micro-batch's progress must carry
    the observed row count and event-time bounds — accumulator-backed,
    so no extra scan runs — and the counts must equal what the sink
    actually received."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.streaming.pipelines import (
        with_batch_metrics,
    )

    src = str(tmp_path / "src")
    _write_jsonl(f"{src}/b1.json", seq=1, rows=[
        {"mid": "m1", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-01 08:00:00"},
        {"mid": "m2", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-01 09:00:00"},
    ])
    _write_jsonl(f"{src}/b2.json", seq=2, rows=[
        {"mid": "m3", "last_page_id": None, "page_id": "home",
         "event_time": "2024-01-02 07:00:00"},
    ])
    stream = with_batch_metrics(
        file_stream(spark, src, PAGE_SCHEMA, max_files_per_trigger=1),
        extra={"n_entries": F.sum(
            F.col("last_page_id").isNull().cast("bigint"))},
    )
    seen: list[dict] = []

    def sink(batch_df, batch_id):
        batch_df.count()

    q = run_available_now(stream, sink, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    for p in q.recentProgress:
        om = p.observedMetrics.get("batch_metrics")
        if om is not None and om["n_rows"]:
            seen.append({
                "n": om["n_rows"],
                "lo": str(om["min_event_time"]),
                "hi": str(om["max_event_time"]),
                "entries": om["n_entries"],
            })
    by_n = {d["n"]: d for d in seen}
    assert set(by_n) == {2, 1}
    assert by_n[2]["lo"].startswith("2024-01-01 08:00")
    assert by_n[2]["hi"].startswith("2024-01-01 09:00")
    assert by_n[2]["entries"] == 2
    assert by_n[1]["lo"].startswith("2024-01-02 07:00")


def test_line_count_sink_merges_and_gate_is_retroactive(spark, tmp_path):
    """Line-count state merges across disjoint batches to the one-shot
    counts; a replayed batch overwrites (not double-counts); and the
    gate applied to the folded state cleans a doc from an EARLY batch
    whose line only became boilerplate in a LATER batch."""
    from sparkstreaming_realtime_spark.operators.dedup import (
        line_counts,
        line_dedup,
    )
    from sparkstreaming_realtime_spark.streaming.sinks import (
        line_count_sink,
        read_line_counts,
    )

    b1 = spark.createDataFrame(
        [(1, "footer\nunique one")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(2, "footer\nunique two")], "doc_id long, text string"
    )
    path = str(tmp_path / "counts")
    sink = line_count_sink(path)
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # replay: same batch id overwrites its directory
    folded = {r["line_fp"]: r["n_docs"]
              for r in read_line_counts(spark, path).collect()}
    both = b1.union(b2)
    oneshot = {r["line_fp"]: r["n_docs"]
               for r in line_counts(both).collect()}
    assert folded == oneshot
    # retroactive gate: 'footer' became boilerplate only once batch 1
    # arrived, yet doc 1 (batch 0) is cleaned too
    out = {r["doc_id"]: r for r in
           line_dedup(both, counts=read_line_counts(spark, path)).collect()}
    assert out[1]["text_clean"] == "unique one"
    assert out[2]["text_clean"] == "unique two"
    assert out[1]["n_removed"] == 1 and out[2]["n_removed"] == 1


def test_copurchase_sink_merges_replays_and_retroactive_support(
    spark, tmp_path
):
    """Co-purchase state merges across basket-disjoint batches to the
    one-shot copurchase_pairs result (counts AND lift); a replayed
    batch overwrites, never double-counts; and a pair whose support
    reaches min_pair_support only ACROSS batches ranks retroactively
    — the per-batch-threshold failure mode the read-time gate
    exists to avoid."""
    from sparkstreaming_realtime_spark.operators.basket import (
        copurchase_pairs,
    )
    from sparkstreaming_realtime_spark.streaming.sinks import (
        copurchase_sink,
        read_copurchase,
    )

    # baskets 1-2 in batch 0, baskets 3-4 in batch 1. Pair (10, 20)
    # has support 1 in EACH batch — only the merged counts see 2.
    b1 = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 30), (2, 10), (2, 30)],
        "basket long, item long",
    )
    b2 = spark.createDataFrame(
        [(3, 10), (3, 20), (4, 10), (4, 30), (4, 30)],  # dup item row
        "basket long, item long",
    )
    path = str(tmp_path / "copur")
    sink = copurchase_sink(path, basket_col="basket", item_col="item")
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # replay: same batch id overwrites its directories
    got = read_copurchase(spark, path, k=10, min_pair_support=2).collect()
    want = copurchase_pairs(
        b1.union(b2), basket_col="basket", item_col="item",
        k=10, min_pair_support=2,
    ).collect()
    as_tuples = lambda rows: [  # noqa: E731
        (r.item_a, r.item_b, r.pair_n, r.n_a, r.n_b, r.lift) for r in rows
    ]
    assert as_tuples(got) == as_tuples(want)
    # the cross-batch pair really is present (support 1 + 1 = 2)
    assert (10, 20) in {(r.item_a, r.item_b) for r in got}


def test_copurchase_sink_honors_max_basket_and_support1_read(
    spark, tmp_path
):
    """The degenerate-basket cap applies per batch (baskets are
    batch-atomic, so a capped basket is dropped whole exactly as the
    one-shot operator drops it), and a support-1 read surfaces
    single-support pairs the default threshold hides."""
    from sparkstreaming_realtime_spark.operators.basket import (
        copurchase_pairs,
    )
    from sparkstreaming_realtime_spark.streaming.sinks import (
        copurchase_sink,
        read_copurchase,
    )

    # basket 1 is a 4-item mega-basket; cap=3 drops it entirely
    b1 = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 30), (1, 40), (2, 10), (2, 20)],
        "basket long, item long",
    )
    b2 = spark.createDataFrame(
        [(3, 20), (3, 30)], "basket long, item long"
    )
    path = str(tmp_path / "capped")
    sink = copurchase_sink(
        path, basket_col="basket", item_col="item", max_basket=3
    )
    sink(b1, 0)
    sink(b2, 1)
    got = read_copurchase(spark, path, k=10, min_pair_support=1).collect()
    want = copurchase_pairs(
        b1.union(b2), basket_col="basket", item_col="item",
        k=10, min_pair_support=1, max_basket=3,
    ).collect()
    tup = lambda rows: [  # noqa: E731
        (r.item_a, r.item_b, r.pair_n, r.n_a, r.n_b, r.lift) for r in rows
    ]
    assert tup(got) == tup(want)
    pairs = {(r.item_a, r.item_b): r.pair_n for r in got}
    # the mega-basket contributed nothing; support-1 pairs visible
    assert pairs == {(10, 20): 1, (20, 30): 1}


def test_transition_sink_recomputes_touched_users(spark, tmp_path):
    """Transitions are NOT batch-decomposable: a late event inserts a
    pair INTO an earlier batch's sequence (A→C becomes A→B→C). The
    read must converge to the one-shot matrix, a replayed batch must
    not drift the counts, and the stale pair (A→C) must be gone after
    the late arrival."""
    import datetime as dt_

    from sparkstreaming_realtime_spark.operators.funnel import (
        transition_matrix,
    )
    from sparkstreaming_realtime_spark.streaming.sinks import (
        read_transition,
        transition_sink,
    )

    t0 = dt_.datetime(2024, 1, 10, 12, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [
                (eid, u, ty, t0 + dt_.timedelta(minutes=m))
                for eid, u, ty, m in rows
            ],
            "event_id long, user_id long, event_type string,"
            " event_time timestamp",
        )

    # batch 0: user 1 does A then C (10 min apart — one A→C pair);
    # user 2 does A then B
    b1 = mk([(1, 1, "A", 0), (3, 1, "C", 10), (4, 2, "A", 0),
             (5, 2, "B", 5)])
    # batch 1: user 1's B arrives LATE, landing between A and C
    b2 = mk([(2, 1, "B", 5)])
    path = str(tmp_path / "trans")
    sink = transition_sink(path)
    sink(b1, 0)
    mid = {(r.from_event, r.to_event): r.n
           for r in read_transition(spark, path).collect()}
    assert mid[("A", "C")] == 1  # correct GIVEN what had arrived
    sink(b2, 1)
    sink(b2, 1)  # replay: merge dedupes on event_id, counts stable
    got = read_transition(spark, path).collect()
    want = transition_matrix(
        b1.union(b2), ts_col="event_time"
    ).collect()
    key = lambda rows: [  # noqa: E731
        (r.from_event, r.to_event, r.n, r.prob) for r in rows
    ]
    assert key(got) == key(want)
    pairs = {(r.from_event, r.to_event) for r in got}
    assert ("A", "C") not in pairs  # the stale pair is gone
    assert ("A", "B") in pairs and ("B", "C") in pairs


def test_keyed_state_batch_leaves_earlier_files_in_place(spark, tmp_path):
    """A batch that does not compact writes only its own
    ``batch=<id>`` dir: every file the earlier batches left in the
    store keeps its name, size and mtime, and the batch adds files
    under ``batch=<id>`` and nowhere else."""
    import datetime as dt_
    import os

    from sparkstreaming_realtime_spark.streaming.sinks import (
        transition_sink,
    )

    t0 = dt_.datetime(2024, 1, 10, 12, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [
                (eid, u, ty, t0 + dt_.timedelta(minutes=m))
                for eid, u, ty, m in rows
            ],
            "event_id long, user_id long, event_type string,"
            " event_time timestamp",
        )

    path = str(tmp_path / "trans")
    sink = transition_sink(path)
    sink(mk([(2 * u, u, "A", 0) for u in range(40)]), 0)
    sink(mk([(2 * u + 1, u, "B", 5) for u in range(40)]), 1)

    def files():
        out = {}
        for dp, _dn, fns in os.walk(path):
            for fn in fns:
                st = os.stat(os.path.join(dp, fn))
                out[os.path.relpath(os.path.join(dp, fn), path)] = (
                    st.st_size, st.st_mtime_ns
                )
        return out

    before = files()
    assert before
    sink(mk([(1000, 7, "C", 10)]), 2)  # one user, one event
    after = files()
    assert {f: after.get(f) for f in before} == before
    assert all(f.startswith("batch=2" + os.sep) for f in set(after) - set(before))
    assert set(after) - set(before)


def test_transition_sink_keeps_null_users(spark, tmp_path):
    """NULL user ids must round-trip the streaming state exactly like
    the batch window, which groups all NULLs into one partition and
    counts their pairs, also when the NULL user's events straddle
    batches."""
    import datetime as dt_

    from sparkstreaming_realtime_spark.operators.funnel import (
        transition_matrix,
    )
    from sparkstreaming_realtime_spark.streaming.sinks import (
        read_transition,
        transition_sink,
    )

    t0 = dt_.datetime(2024, 1, 10, 12, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [
                (eid, u, ty, t0 + dt_.timedelta(minutes=m))
                for eid, u, ty, m in rows
            ],
            "event_id long, user_id long, event_type string,"
            " event_time timestamp",
        )

    # NULL-user events straddle the two batches: the second batch's
    # NULL rows must find the first batch's NULL slice in state
    b1 = mk([(1, None, "A", 0), (3, 1, "A", 0), (4, 1, "B", 5)])
    b2 = mk([(2, None, "B", 5), (5, None, "C", 10)])
    path = str(tmp_path / "trans")
    sink = transition_sink(path)
    sink(b1, 0)
    sink(b2, 1)
    got = read_transition(spark, path).collect()
    want = transition_matrix(b1.union(b2), ts_col="event_time").collect()
    key = lambda rows: [  # noqa: E731
        (r.from_event, r.to_event, r.n, r.prob) for r in rows
    ]
    assert key(got) == key(want)
    counts = {(r.from_event, r.to_event): r.n for r in got}
    # the NULL user's chain A→B→C is present (2 pairs)
    assert counts[("A", "B")] == 2 and counts[("B", "C")] == 1


def test_retention_sink_late_event_moves_cohort(spark, tmp_path):
    """A late-arriving OLDER event must retroactively move its user's
    cohort (min day over the merged set) — per-batch cohort
    assignment could never do this; replays overwrite (T5); the fold
    equals the one-shot operator over the concatenation."""
    import datetime as dt_

    from sparkstreaming_realtime_spark.operators.funnel import (
        retention_cohorts,
    )
    from sparkstreaming_realtime_spark.streaming.sinks import (
        read_retention,
        retention_sink,
    )

    def mk(rows):
        return spark.createDataFrame(
            [
                (eid, u, dt_.datetime(2024, 1, d, 12))
                for eid, u, d in rows
            ],
            "event_id long, user_id long, event_time timestamp",
        )

    # batch 0: user 1 first seen Jan 5 (also active Jan 6)
    b1 = mk([(1, 1, 5), (2, 1, 6), (3, 2, 5)])
    # batch 1: user 1's Jan 3 event arrives LATE -> cohort moves to
    # Jan 3, and Jan 5/6 become offsets 2 and 3 of the NEW cohort
    b2 = mk([(4, 1, 3)])
    state = str(tmp_path / "ret")
    sink = retention_sink(state)
    sink(b1, 0)
    mid = {(r.cohort_date, r.day_offset): r.n_active
           for r in read_retention(spark, state).collect()}
    assert mid[("2024-01-05", 0)] == 2  # both users cohorted Jan 5
    sink(b2, 1)
    sink(b2, 1)  # replay
    got = sorted(
        (r.cohort_date, r.day_offset, r.n_active)
        for r in read_retention(spark, state).collect()
    )
    want = sorted(
        (r.cohort_date, r.day_offset, r.n_active)
        for r in retention_cohorts(
            b1.union(b2), ts_col="event_time"
        ).collect()
    )
    assert got == want
    cells = dict(((c, o), n) for c, o, n in got)
    assert cells[("2024-01-03", 0)] == 1  # user 1 re-cohorted
    assert cells[("2024-01-03", 2)] == 1  # Jan 5 now offset 2
    assert cells[("2024-01-05", 0)] == 1  # only user 2 left on Jan 5


def test_bm25_index_sink_merges_and_replays(spark, tmp_path):
    """Streaming inverted-index maintenance: per-batch postings over
    DISJOINT documents merge to the one-shot corpus index (df from
    the per-term row count, N/avgdl from additive stats rows), a
    replayed batch overwrites idempotently, and the served top-k
    equals bm25_search over the concatenated corpus — scores
    bit-identical via the shared bm25_rank fold."""
    from sparkstreaming_realtime_spark.operators.retrieval import (
        bm25_search,
    )
    from sparkstreaming_realtime_spark.streaming.sinks import (
        bm25_index_sink,
        read_bm25_index,
    )

    b1 = spark.createDataFrame(
        [(1, "spark streams spark facts"), (2, "duck pond facts")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "spark pond"), (4, "entirely unrelated words")],
        "doc_id long, text string",
    )
    index = str(tmp_path / "bm25")
    sink = bm25_index_sink(index)
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # replay: deterministic dir overwrites, counts stable
    got = [
        (r.doc_id, r.bm25, r.n_hit_terms)
        for r in read_bm25_index(
            spark, index, ["spark", "pond"], k=10
        ).collect()
    ]
    want = [
        (r.doc_id, r.bm25, r.n_hit_terms)
        for r in bm25_search(
            b1.union(b2), ["spark", "pond"], k=10
        ).collect()
    ]
    assert got == want
    assert {d for d, _, _ in got} == {1, 2, 3}  # doc 4 never appears


def test_key_skew_from_streamed_counts_equals_batch(spark, tmp_path):
    """Skew profile over rollup_sum_sink state equals the one-shot
    batch profile — per-key counts are additive over ANY row split
    (a key's rows may scatter across batches freely, unlike the
    basket/line sinks), and a replayed batch overwrites."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.operators.profiling import (
        key_skew_profile,
    )
    from sparkstreaming_realtime_spark.streaming.sinks import (
        read_rollup_sum,
        rollup_sum_sink,
    )

    rows = [(u,) for u in [1] * 6 + [2] * 3 + [3] * 3 + [4]]

    def mk(rs):
        return spark.createDataFrame(rs, "key long").withColumn(
            "n", F.lit(1).cast("bigint")
        )

    df = mk(rows)
    # split user 2's rows ACROSS the two batches on purpose
    b1, b2 = mk(rows[:7]), mk(rows[7:])
    path = str(tmp_path / "kskew")
    sink = rollup_sum_sink(path, key_cols=("key",), value_col="n")
    sink(b1, 0)
    sink(b2, 1)
    sink(b2, 1)  # replay overwrites, never double-counts
    merged = read_rollup_sum(spark, path, key_cols=("key",), value_col="n")
    got = key_skew_profile(None, key_col="key", k=10, counts=merged).collect()
    want = key_skew_profile(df, key_col="key", k=10).collect()
    cols = ("rank", "key", "n", "share", "cum_share",
            "n_keys", "n_rows", "gini")
    assert [[r[c] for c in cols] for r in got] == [
        [r[c] for c in cols] for r in want
    ]
    assert got[0]["n_rows"] == 13 and got[0]["n_keys"] == 4
