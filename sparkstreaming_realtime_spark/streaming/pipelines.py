"""Streaming pipelines (SURVEY T1–T7, J3): the DAU dedup and the
order wide-table join, bound to Structured Streaming state.

These are the reference's two hardest behaviors:

- ``DwdDauApp.scala:83-100`` keeps a Redis set ``DAU:<yyyy-MM-dd>``
  per day and admits a mid only on first ``sadd`` — but never sets
  the intended 24 h expiry (comment at :79), so state grows forever.
  :func:`streaming_dau_dedup` is the same first-wins semantics with
  ``dropDuplicates`` keyed (mid, dt) state that the watermark
  actually evicts (T2, fixed leak).
- ``DwdOrderApp.scala:165-237`` implements a cross-batch inner join
  by hand: per batch ``fullOuterJoin``, then each unmatched side
  probes/caches Redis with 24 h TTLs. The *observable* semantics are
  an inner join where either side may arrive up to 24 h late, 1:N
  preserved, late-beyond-TTL dropped (T3/T4).
  :func:`streaming_order_wide` is exactly Spark's watermarked
  stream-stream inner join — the symmetric state store buffers and
  matches just like the Redis choreography, with eviction.

Both are transform-only (source-agnostic); bind with
``run_available_now`` (tests) or a processing-time trigger (T1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.datetimes import dt_col
from ..functions.money import money_sum
from .store import batch_dir, batch_ids, write_batch


def streaming_dau_dedup(
    page_log: DataFrame,
    key: str = "mid",
    ts: str = "event_time",
    watermark: str = "25 hours",
) -> DataFrame:
    """T2: session-entry filter + cross-batch daily dedup.

    State is keyed (key, dt); the watermark must exceed one day so a
    key seen at 23:59 still blocks a duplicate at 00:01 *of the same
    dt* while letting yesterday's state age out — 25 h mirrors the
    reference's intended-but-missing 24 h TTL with a safety hour.
    A mid active on two calendar days counts once per day (dt is part
    of the state key), matching the per-day Redis sets."""
    entries = page_log.filter(F.col("last_page_id").isNull())
    with_dt = entries.withColumn("dt", dt_col(ts, entries))
    return with_dt.withWatermark(ts, watermark).dropDuplicates([key, "dt"])


def streaming_order_wide(
    order_info: DataFrame,
    order_detail: DataFrame,
    ts: str = "event_time",
    ttl: str = "24 hours",
) -> DataFrame:
    """J3/T3/T4: the order wide-table stream-stream join.

    Inner equi-join on the order id with both sides watermarked at
    the reference's 24 h Redis TTL and a join-time range bound —
    Spark buffers unmatched rows in the symmetric state store (the
    ``ORDERJOIN:*`` keys of DwdOrderApp.scala:203-230), emits on
    match (1:N preserved), and drops a side that stays unmatched past
    the watermark (the reference's silent post-TTL drop, :206,230).
    """
    info = order_info.withWatermark(ts, ttl).alias("i")
    detail = order_detail.withWatermark(ts, ttl).alias("d")
    cond = (F.col("i.id") == F.col("d.order_id")) & (
        F.col(f"d.{ts}").between(
            F.col(f"i.{ts}") - F.expr(f"INTERVAL {ttl}"),
            F.col(f"i.{ts}") + F.expr(f"INTERVAL {ttl}"),
        )
    )
    # detail ⊕ info column union — the reflective bean merge
    # (MyBeanUtils.scala:14-46, OrderWide.scala:48-60) as a plain
    # select: info.id → order_id, detail.id → detail_id, detail's
    # order_id dropped (same value as info.id), colliding leftover
    # names get a detail_ prefix.
    info_cols = [
        F.col("i.id").alias("order_id") if c == "id" else F.col(f"i.{c}")
        for c in order_info.columns
    ]
    seen = {c for c in order_info.columns if c != "id"} | {"order_id"}
    detail_cols = []
    for c in order_detail.columns:
        if c == "id":
            detail_cols.append(F.col("d.id").alias("detail_id"))
        elif c == "order_id":
            continue
        elif c in seen:
            detail_cols.append(F.col(f"d.{c}").alias(f"detail_{c}"))
        else:
            detail_cols.append(F.col(f"d.{c}"))
    return info.join(detail, cond, "inner").select(*info_cols, *detail_cols)


_AQE = "spark.sql.adaptive.enabled"


def _writer_with_session_aqe(df: DataFrame, sink_fn):
    """``sink_fn`` run with the starting session's AQE setting.

    Spark turns AQE off in the session of every stateful query
    (``MicroBatchExecution`` logs "AQE is not supported in stateful
    workloads"), and the ``foreachBatch`` writer runs in that session,
    so its own shuffles and writes would run at
    ``spark.sql.shuffle.partitions`` tasks: a 500-row batch writes one
    file per shuffle partition. By the time the writer is called,
    ``ForeachBatchSink`` has already planned the stateful part as a
    non-adaptive RDD with its fixed state partitioning, and the
    writer's frame is a ``LogicalRDD`` over it. Setting AQE back for
    the writer call alone therefore lets AQE plan only what the writer
    adds (its shuffles, writes and the compaction beside them): a
    small batch writes one task and one file, a large one keeps its
    parallelism. The value comes from the session that starts the
    query, so a session with AQE off keeps it off, and the batch
    session's own value is restored after each call."""
    aqe = df.sparkSession.conf.get(_AQE)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        conf = batch_df.sparkSession.conf
        prev = conf.get(_AQE)
        conf.set(_AQE, aqe)
        try:
            sink_fn(batch_df, batch_id)
        finally:
            conf.set(_AQE, prev)

    return write


def run_available_now(
    df: DataFrame, sink_fn, checkpoint: str, query_name: str = "q"
):
    """T1/T5 binding: drain everything available as micro-batches,
    write through ``sink_fn`` (foreachBatch), commit offsets in the
    checkpoint (S3/S4/K10 built in), then stop.

    Spark runs a stateful query's micro-batches with AQE off; the
    binding gives ``sink_fn`` the starting session's AQE setting back
    for each call (see :func:`_writer_with_session_aqe`), so the
    writer's own shuffles coalesce while the state keeps its fixed
    partitioning.

    Under ``session.get_spark`` the checkpoint and state-store files
    commit through ``FileSystemBasedCheckpointFileManager``, whose
    rename forks no ``readlink`` on ``file:`` (see the session module
    docstring). A stock session keeps Spark's default manager: same
    results, more forked processes per batch."""
    return (
        df.writeStream.foreachBatch(_writer_with_session_aqe(df, sink_fn))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )


def run_processing_time(
    df: DataFrame,
    sink_fn,
    checkpoint: str,
    interval: str = "5 seconds",
    query_name: str = "q",
):
    """T1's production binding: continuous micro-batches on a fixed
    cadence — the reference's ``StreamingContext(conf, Seconds(5))``
    (OdsBaseLogApp.scala:31-32; 2 s for the CDC/DAU apps). Identical
    plan and state semantics to :func:`run_available_now` (the tests'
    bounded trigger); only the trigger differs, so everything the
    AvailableNow suites pin — cross-batch state, replay idempotency,
    offset restore — holds verbatim under this binding. The writer
    gets the starting session's AQE setting back in the same way, and
    the checkpoint commits through the same manager as
    :func:`run_available_now` (``FileSystemBasedCheckpointFileManager``
    under ``session.get_spark``, Spark's default on a stock session).
    Returns the running query; callers own ``awaitTermination``."""
    return (
        df.writeStream.foreachBatch(_writer_with_session_aqe(df, sink_fn))
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=interval)
        .queryName(query_name)
        .start()
    )


def streaming_hourly_rollup(
    events: DataFrame,
    ts: str = "event_time",
    lateness: str = "2 hours",
) -> DataFrame:
    """T6+T7: watermarked tumbling-window rollup — the streaming
    binding of plans.queries.hourly_window_rollup. The watermark
    bounds window state (closed windows finalize and evict once event
    time passes window_end + lateness) and defines the late-data drop
    point; append output mode emits each window exactly once."""
    return (
        events.withWatermark(ts, lateness)
        .groupBy(F.window(ts, "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            money_sum(F.col("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type",
                "n", "sum_value")
    )


def streaming_sliding_rollup(
    events: DataFrame,
    ts: str = "event_time",
    duration: str = "1 hour",
    slide: str = "30 minutes",
    lateness: str = "2 hours",
) -> DataFrame:
    """Watermarked SLIDING-window rollup — the overlapping-window
    form of :func:`streaming_hourly_rollup` (each event lands in
    duration/slide windows; Spark expands the assignment as a
    generator pre-shuffle, so state is per-(window, type) exactly
    like the tumbling case, just slide-aligned). Append mode emits
    each window once, when the watermark passes window_end."""
    return (
        events.withWatermark(ts, lateness)
        .groupBy(F.window(ts, duration, slide).alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            money_sum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def streaming_user_sessions(
    events: DataFrame,
    ts: str = "event_time",
    gap: str = "30 minutes",
    lateness: str = "2 hours",
) -> DataFrame:
    """T6's session-window form under real streaming state: gap-based
    sessions per user (the streaming binding of operators.dau.sessionize).
    Session windows MERGE across micro-batches while open — the state
    store holds per-(user, open-session) aggregates, and append mode
    emits a session exactly once, when the watermark passes its end
    (last event + gap). The watermark both bounds state and defines
    the emission rule the batch oracle reproduces."""
    return (
        events.withWatermark(ts, lateness)
        .groupBy(F.session_window(F.col(ts), gap).alias("w"), "user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            money_sum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )


def multiplex_sink(base_path: str):
    """P9's streaming binding: ONE source scan per micro-batch feeding
    all five outputs. foreachBatch persists the parsed batch, writes
    each branch, then unpersists — the declarative version of the
    reference's single foreachPartition pass over five producers
    (OdsBaseLogApp.scala:88-198). Each branch write is idempotent per
    batch id (see sinks.idempotent_parquet_sink rationale)."""
    import os

    from ..operators.log_split import log_split

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for name, branch in log_split(batch_df).items():
                write_batch(branch, os.path.join(base_path, name), batch_id)
        finally:
            batch_df.unpersist()

    return write


def curation_sink(
    corpus_path: str,
    stats_path: str,
    min_quality: float = 0.25,
    max_repetition: float = 0.05,
):
    """The composed curation funnel per micro-batch — the streaming
    binding of ``plans.llm_queries.corpus_curation_funnel``'s first
    two stages: quality gate (score ≥ min_quality ∧ repetition <
    max_repetition) → exact-fingerprint dedup, first within the batch
    (min doc_id per fp) then against the GROWN corpus (first batch to
    claim a fingerprint wins — the reference's Redis first-`sadd`
    shape at corpus scale). Kept docs (doc_id, lang, fp) land in
    ``corpus_path/batch=<id>``; per-batch per-language funnel counts
    (n_raw, n_quality) in ``stats_path/batch=<id>`` — both
    per-batch-id overwrites, so replay is idempotent (T5).

    The temperature-resample stage is deliberately NOT per-batch: its
    per-language rates depend on the whole corpus mix, so a real
    pipeline snapshots them from the accumulated store — exactly what
    the parity query does after draining.

    A batch checks its fingerprints only against the COMMITTED corpus
    batches below its own id, so a replay never sees its own earlier
    attempt as an earlier claim.

    Cross-batch semantics note: with in-order batches the kept
    FINGERPRINT set equals the batch funnel's; the surviving
    representative per fp is the earliest batch's min-id (the batch
    funnel picks the global min-id). Identical when dups share a
    batch or arrive id-ordered; pinned by
    tests/test_streaming.py::test_curation_sink_across_micro_batches."""
    from ..functions.text import tokenize
    from ..operators import textstats as ts
    from ..operators.dedup import fingerprint, spread

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            # tokenize ONCE behind an explode barrier — both quality
            # signals read the bound token array (no HOF-lambda CSE)
            base = spread(batch_df).select(
                "doc_id", "lang",
                F.explode(F.array(tokenize("text"))).alias("__toks"),
                fingerprint("text").alias("fp"),
            )
            pass_q = (
                ts.quality_score_t(F.col("__toks")) >= min_quality
            ) & (ts.repetition_ratio_t(F.col("__toks")) < max_repetition)
            scored = base.select(
                "doc_id", "lang", "fp", pass_q.alias("pass_q")
            ).persist()
            try:
                stats = scored.groupBy("lang").agg(
                    F.count("*").cast("bigint").alias("n_raw"),
                    F.sum(F.when(F.col("pass_q"), 1).otherwise(0))
                    .cast("bigint").alias("n_quality"),
                )
                write_batch(stats, stats_path, batch_id)
                q = scored.filter("pass_q")
                # within-batch first-wins: min doc_id per fingerprint
                win = q.join(
                    q.groupBy("fp").agg(F.min("doc_id").alias("doc_id")),
                    ["fp", "doc_id"],
                )
                corpus = _committed_below(spark, corpus_path, batch_id)
                if corpus is not None and not corpus.isEmpty():
                    # grown-corpus first-wins: an fp claimed by an
                    # earlier batch rejects this batch's doc
                    win = win.join(
                        corpus.select("fp").distinct(), "fp", "left_anti"
                    )
                write_batch(
                    win.select("doc_id", "lang", "fp"), corpus_path, batch_id
                )
            finally:
                scored.unpersist()
        finally:
            batch_df.unpersist()

    return write


def _committed_below(spark, path: str, batch_id: int) -> DataFrame | None:
    """The committed ``batch=<id>`` dirs of ``path`` with ids below
    ``batch_id`` as one frame (None when there are none). The in-flight
    batch's own earlier attempt is not among them, so a replay reads
    what its first attempt read."""
    prior = [batch_dir(path, i) for i in batch_ids(path) if i < batch_id]
    return spark.read.parquet(*prior) if prior else None


def corpus_dedup_sink(corpus_path: str, rejected_path: str, threshold: float = 0.6):
    """Streaming corpus dedup: per micro-batch, reject near-dups and
    grow the kept corpus — the streaming binding of
    ``operators/dedup.py:near_dup_join`` (the LLM-pipeline analog of
    the reference's Redis first-wins set, with similarity instead of
    equality).

    Per batch: (1) within-batch pairs via ``near_dup_pairs`` reject
    the larger id of each verified pair; (2) survivors check
    new×corpus collisions via ``near_dup_join``. Kept docs land in
    ``corpus_path/batch=<id>``, rejects (with the kept doc they
    duplicate) in ``rejected_path/batch=<id>`` — per-batch-id
    overwrite makes replay idempotent (T5); the corpus a batch checks
    against is the committed batches below its own id. At 100 TB the
    corpus signature table would be persisted and appended instead of
    re-derived per batch; the observable semantics are identical."""
    from ..operators.dedup import near_dup_join, near_dup_pairs

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            intra = near_dup_pairs(batch_df, threshold=threshold).select(
                F.col("doc_b").alias("new_id"),
                F.col("doc_a").alias("corpus_id"),
                "jaccard",
            )
            survivors = batch_df.join(
                intra.select(F.col("new_id").alias("doc_id")).distinct(),
                "doc_id",
                "left_anti",
            ).persist()
            corpus = _committed_below(spark, corpus_path, batch_id)
            if corpus is not None and not corpus.isEmpty():
                hits = near_dup_join(survivors, corpus, threshold=threshold)
                kept = survivors.join(
                    hits.select(F.col("new_id").alias("doc_id")).distinct(),
                    "doc_id",
                    "left_anti",
                )
            else:
                hits = None
                kept = survivors
            write_batch(kept, corpus_path, batch_id)
            rejected = intra if hits is None else intra.unionByName(hits)
            write_batch(rejected, rejected_path, batch_id)
            survivors.unpersist()
        finally:
            batch_df.unpersist()

    return write


def with_batch_metrics(
    df: DataFrame,
    name: str = "batch_metrics",
    extra: dict[str, "F.Column"] | None = None,
):
    """Per-micro-batch observability via ``Dataset.observe`` — the
    monitoring surface the reference lacks entirely (its apps log
    nothing per batch; an operator watches Redis key counts by hand).

    ``observe`` attaches ACCUMULATOR-backed aggregates to the stream:
    metrics ride with the batch execution itself (zero extra scans,
    zero extra jobs) and surface in every ``StreamingQueryProgress``
    under ``observedMetrics[name]`` — exactly what a production
    deployment exports to its metrics system to alert on stalled
    sources, null floods, or event-time lag. Defaults: row count,
    null-key-free count, min/max event time when the frame has
    ``event_time``. Pass ``extra`` for pipeline-specific aggregates
    (e.g. quarantine counts)."""
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    if "event_time" in df.columns:
        metrics.append(F.min("event_time").alias("min_event_time"))
        metrics.append(F.max("event_time").alias("max_event_time"))
    for alias, col in (extra or {}).items():
        metrics.append(col.alias(alias))
    return df.observe(name, *metrics)
