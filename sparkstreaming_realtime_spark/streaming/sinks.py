"""Streaming sinks (SURVEY K1–K6, T5).

The reference achieves effective exactly-once by pairing at-least-once
offsets with idempotent writes: Kafka producer idempotence
(``MykafkaUtils.scala:90``) and ES doc-ids that make replays
overwrite (``MyEsUtils.scala:47``, ``DwdDauApp.scala:167``). The
engine's equivalent: checkpointed sources + a ``foreachBatch`` writer
whose output location is a *deterministic function of the batch id*,
so a replayed batch overwrites its own previous attempt instead of
appending duplicates (T5/K5).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .store import (
    COMPACT_EVERY,
    SubFold,
    batch_dir,
    compact_additive,
    load_manifest,
    read_buckets,
    read_folded,
    run_concurrent,
    swap_buckets,
    write_batch,
    write_rows_parquet,
)

def kafka_sink_options(
    topic: str,
    bootstrap_servers: str = "localhost:9092",
    idempotent: bool = True,
) -> dict[str, str]:
    """K1/K2/K3: the producer config of ``MykafkaUtils.scala:70-94``
    mapped onto the Kafka sink.

    - topic + ``bootstrap.servers`` (``:77-79``) map 1:1.
    - key/value ``StringSerializer`` (``:81-83``): built in — the
      sink sends the frame's ``value`` (required) and ``key``
      (optional) columns; a null/absent key is the sticky-partition
      send of ``:102-104``, a populated key the hash-partitioned
      keyed send of ``:112-114``.
    - ``enable.idempotence = true`` + ``acks = all`` (``:86-90``):
      passed through as ``kafka.``-prefixed producer properties —
      retries can't duplicate or reorder within a partition.
    - per-partition ``flush()`` (K3, ``:126-128``): built in — the
      sink flushes before each epoch commits, so offsets are only
      committed after the brokers acked the batch (the reference's
      write-then-commit ordering).
    """
    opts = {"kafka.bootstrap.servers": bootstrap_servers, "topic": topic}
    if idempotent:
        opts["kafka.enable.idempotence"] = "true"
        opts["kafka.acks"] = "all"
    return opts


def write_additive(
    spark,
    path: str,
    batch_id: int,
    folds: dict[str, SubFold],
    frames: dict[str, DataFrame],
    compact_every: int = COMPACT_EVERY,
    extra: dict[str, DataFrame] | None = None,
) -> None:
    """The one write path of the additive sinks. Each sub-frame of
    ``frames`` ({sub: DataFrame}) lands in its ``batch=<id>`` dir
    (:func:`store.write_batch`, partitioned by ``folds[sub]
    .partition_by``), each frame of ``extra`` ({store path: DataFrame})
    in that store's ``batch=<id>`` dir, and the PRIOR tail's
    compaction runs with them as CONCURRENT jobs. Safe by
    construction: ``compact_additive`` folds only batch ids strictly
    BELOW ``batch_id``, which this batch never touches, and stages its
    segment under ``seg=<gen>``, disjoint from every ``batch=<id>``
    dir. The manifest publish stays compaction's single commit point,
    and this returns only after every job joined, so the streaming
    checkpoint commits after all output landed. A crash between the
    manifest publish and the batch write completing replays the batch
    (offsets uncommitted), which overwrites its dirs and no-ops the
    already-advanced compaction. Until that replay, an external reader
    sees the folded view plus the partial ``batch=<id>`` dir (the
    known window named in streaming/store.py)."""
    thunks = [
        (lambda sub=sub, df=df: write_batch(
            df, path, batch_id, sub, folds[sub].partition_by))
        for sub, df in frames.items()
    ]
    thunks += [
        (lambda p=p, df=df: write_batch(df, p, batch_id))
        for p, df in (extra or {}).items()
    ]
    if compact_every:
        thunks.append(
            lambda: compact_additive(
                spark, path, batch_id, folds, compact_every=compact_every
            )
        )
    run_concurrent(spark, thunks)


def additive_sink(path: str, folds: dict[str, SubFold], partials,
                  compact_every: int = COMPACT_EVERY):
    """The ``foreachBatch`` writer of an additive store: per batch,
    ``partials(batch_df)`` gives the ``{sub: DataFrame}`` that
    :func:`write_additive` lands beside the prior tail's compaction.
    Output location is a function of the batch id alone, so a replayed
    batch overwrites its previous attempt (T5/K5)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        write_additive(batch_df.sparkSession, path, batch_id, folds,
                       partials(batch_df), compact_every)

    return write


# -- the additive-sink spec table -------------------------------------
# One ``{sub: SubFold}`` per store. The sink writes per-batch partials
# under it, compaction folds with it, and the reader (store.read_folded)
# applies the same fold, so a compacted store reads as the uncompacted one.


def _sum_fold(key_cols: tuple[str, ...], value_col: str):
    """Key-wise exact integer SUM (bigint)."""

    def fold(df: DataFrame) -> DataFrame:
        return df.groupBy(*key_cols).agg(
            F.sum(value_col).cast("bigint").alias(value_col)
        )

    return fold


def _raw_spec(partition_col: str | None = None) -> dict[str, SubFold]:
    """Raw rows in append mode; ``basePath`` reads resolve any ``dt=``
    layer below ``batch=<id>``."""
    return {"": SubFold(partition_by=partition_col, use_base_path=True)}


def _sum_spec(key_cols: tuple[str, ...], value_col: str) -> dict[str, SubFold]:
    return {"": SubFold(fold=_sum_fold(key_cols, value_col))}


def _kmv_spec(k: int) -> dict[str, SubFold]:
    """Distinct hashes, then the k smallest: idempotent, associative
    and commutative."""
    return {"": SubFold(
        fold=lambda df: df.select("h").distinct().orderBy("h").limit(k)
    )}


_COUNT_MIN = _sum_spec(("row", "col"), "c")
_LINE_COUNTS = _sum_spec(("line_fp",), "n_docs")
#: user-day activity is a set: union then distinct
_RETENTION = {"": SubFold(fold=lambda df: df.select("__u", "__d").distinct())}
#: postings/doclen rows are disjoint across batches (batches partition
#: documents), so they consolidate in append mode, postings re-clustered
#: by term so compacted segments prune like fresh batches; the one-row
#: stats frames fold to exact integer sums (avgdl divides at read time)
_BM25 = {
    "postings": SubFold(range_by="term"),
    "doclen": SubFold(),
    "stats": SubFold(fold=lambda df: df.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
    )),
}
#: key-wise (or global) integer counts over disjoint baskets; the
#: support threshold stays read-side so it applies to the MERGED counts
_COPURCHASE = {
    "pairs": SubFold(fold=_sum_fold(("item_a", "item_b"), "pair_n")),
    "items": SubFold(fold=_sum_fold(("item",), "n")),
    "baskets": SubFold(
        fold=lambda df: df.agg(F.sum("n").cast("bigint").alias("n"))
    ),
}


def idempotent_parquet_sink(
    path: str,
    key_cols: tuple[str, ...],
    partition_col: str | None = "dt",
    compact_every: int = COMPACT_EVERY,
):
    """T5/K5: a ``foreachBatch`` writer with replay-safe semantics.

    Per batch: (1) dedup on the doc key inside the batch (the ES
    doc-id collapse, MyEsUtils.scala:41-52); (2) write to
    ``<path>/batch=<id>`` (partitioned by ``partition_col`` when the
    frame has it) — replays of the same epoch overwrite the same
    directory, so at-least-once delivery composes to exactly-once
    output (the engine analog of doc-id upserts). Compaction
    consolidates the committed tail in append mode with the ``dt``
    layout preserved. Readers take ``read_sink(path)``."""
    return additive_sink(
        path, _raw_spec(partition_col),
        lambda df: {"": df.dropDuplicates(list(key_cols))}, compact_every,
    )


def read_sink(spark, path: str) -> DataFrame:
    """Everything the idempotent sink has committed: compacted
    segments ∪ live tail, from one manifest snapshot."""
    return read_folded(spark, path, _raw_spec())


def reset_sink(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)


def count_min_sink(path: str, item_col: str = "item",
                   depth: int | None = None, width: int | None = None,
                   compact_every: int = COMPACT_EVERY):
    """Streaming count-min maintenance: each micro-batch's cell
    counts land in their own ``batch=<id>`` directory, and the live
    sketch is the cell-wise SUM over the store — exactly the
    associative+commutative merge that makes count-min a streaming
    aggregate (operators/sketches.py). Read with
    :func:`read_count_min`."""
    from ..operators import sketches as sk

    d = sk.CM_DEPTH if depth is None else depth
    w = sk.CM_WIDTH if width is None else width
    return additive_sink(
        path, _COUNT_MIN,
        lambda df: {"": sk.count_min_cells(df, item_col, d, w)},
        compact_every,
    )


def read_count_min(spark, path: str) -> DataFrame:
    """The live sketch: cell-wise addition over segments ∪ tail."""
    return read_folded(spark, path, _COUNT_MIN)


def kmv_sink(path: str, item_col: str = "item", k: int | None = None,
             compact_every: int = COMPACT_EVERY):
    """Streaming distinct-count sketch maintenance: each micro-batch
    folds to its own ≤ k-row KMV sketch (operators/sketches.py:
    kmv_sketch), and the live sketch is union → k smallest distinct
    over the store. The merge is min-like, so per-batch sketches over
    ANY batch split merge to the one-shot corpus sketch exactly, even
    when the same item recurs across batches (a corpus-top-k hash is
    top-k within its own batch). Read with :func:`read_kmv`."""
    from ..operators import sketches as sk

    kk = sk.KMV_K if k is None else k
    return additive_sink(
        path, _kmv_spec(kk),
        lambda df: {"": sk.kmv_sketch(df, item_col, kk)}, compact_every,
    )


def read_kmv(spark, path: str, k: int | None = None) -> DataFrame:
    """The live KMV sketch: distinct over segments ∪ tail, then the k
    smallest."""
    from ..operators import sketches as sk

    return read_folded(spark, path, _kmv_spec(sk.KMV_K if k is None else k))


def line_count_sink(path: str, text_col: str = "text",
                    id_col: str = "doc_id",
                    compact_every: int = COMPACT_EVERY):
    """Streaming line-frequency maintenance for the boilerplate gate
    (operators/dedup.py:line_dedup): each micro-batch banks its
    per-line distinct-document counts. A document's lines all travel
    in its one row, so counts over DISJOINT batches sum to the corpus
    distinct count (:func:`read_line_counts`). The gate applies at
    read time via ``line_dedup(docs, counts=...)``, so a line that
    crosses the boilerplate threshold in a LATER batch cleans earlier
    documents too — the semantics of a one-shot batch run."""
    from ..operators.dedup import line_counts

    return additive_sink(
        path, _LINE_COUNTS,
        lambda df: {"": line_counts(df, text_col, id_col)}, compact_every,
    )


def read_line_counts(spark, path: str) -> DataFrame:
    """The live line counts: fingerprint-wise addition over the store
    (valid because batches partition the documents)."""
    return read_folded(spark, path, _LINE_COUNTS)


def rollup_sum_sink(path: str, key_cols: tuple[str, ...],
                    value_col: str = "v",
                    compact_every: int = COMPACT_EVERY):
    """Streaming additive-rollup maintenance: each micro-batch banks
    its per-key integer sums, and the live rollup is the key-wise SUM
    over the store — exact integer sums are associative and
    commutative, so ANY batch split merges to the one-shot rollup.
    Read-side detectors (operators/timeseries.py) run over the merged
    rollup, so a detector change never reprocesses facts. Read with
    :func:`read_rollup_sum`."""
    spec = _sum_spec(key_cols, value_col)
    return additive_sink(
        path, spec, lambda df: {"": spec[""].fold(df)}, compact_every
    )


def read_rollup_sum(spark, path: str, key_cols: tuple[str, ...],
                    value_col: str = "v") -> DataFrame:
    """The live rollup: key-wise integer SUM over segments ∪ tail."""
    return read_folded(spark, path, _sum_spec(key_cols, value_col))


def retention_sink(path: str, user_col: str = "user_id",
                   ts_col: str = "event_time",
                   compact_every: int = COMPACT_EVERY):
    """Streaming retention-cohort maintenance: each micro-batch banks
    its distinct (``__u``, ``__d``) user-day frame
    (operators/funnel.py:active_days). User-day activity is a SET, so
    distinct-over-union merges ANY batch split (cross-batch repeats
    included) to the one-shot corpus set, and a late OLDER event moves
    its user's cohort earlier at read time, which per-batch cohort
    assignment never could. Read with :func:`read_retention`."""
    from ..operators.funnel import active_days

    return additive_sink(
        path, _RETENTION,
        lambda df: {"": active_days(df, user_col, ts_col)}, compact_every,
    )


def read_retention(spark, path: str) -> DataFrame:
    """The live retention matrix: the folded user-day set, then the
    one-shot operator's own fold (funnel.py:retention_from_active)."""
    from ..operators.funnel import retention_from_active

    return retention_from_active(read_folded(spark, path, _RETENTION))


def quality_gate_sink(
    path: str,
    expectations: list[tuple],
    compact_every: int = COMPACT_EVERY,
):
    """Streaming data-quality gate: every micro-batch runs the
    declarative expectation suite (operators/expectations.py — ONE
    conditional-aggregate scan) and routes WHOLE batches by verdict:
    passing batches land under ``accepted/batch=<id>``, failing ones
    under ``quarantine/batch=<id>``, with the verdict frame written
    beside them (``verdicts/batch=<id>``) so an operator can see which
    check broke and replay the quarantined batch after a fix.

    This is the reference's error-routing pattern (OdsBaseLogApp's
    malformed-JSON side channel, P3) at the semantic level: a broken
    upstream extract poisons everything it shipped, so quality errors
    route BATCHES. Only the accepted store compacts (quarantined ids
    leave gaps that ``upto`` covers); quarantine/ and verdicts/ stay
    one dir per batch as the audit/replay log. Read the accepted
    stream with ``read_sink(f"{{path}}/accepted")``."""
    from ..operators.expectations import check_expectations

    def write(batch_df: DataFrame, batch_id: int) -> None:
        verdict = check_expectations(batch_df, expectations)
        rows = verdict.collect()  # suite-sized: one row per check
        ok = all(r["passed"] == 1 for r in rows)
        extra = {os.path.join(path, "verdicts"): verdict}
        if not ok:
            extra[os.path.join(path, "quarantine")] = batch_df
        write_additive(
            batch_df.sparkSession, os.path.join(path, "accepted"),
            batch_id, _raw_spec(), {"": batch_df} if ok else {},
            compact_every, extra,
        )

    return write


def bm25_index_sink(path: str, id_col: str = "doc_id",
                    text_col: str = "text",
                    compact_every: int = COMPACT_EVERY):
    """Streaming BM25 inverted-index maintenance — the reference's ES
    architecture for ranked search (PublishDaoImpl.java:58-61 queries
    a continuously-indexed store; it never re-tokenizes the corpus
    per query): each micro-batch of documents tokenizes ONCE and
    lands three sub-frames under its ``batch=<id>`` directory:

    - ``postings``: (doc_id, term, tf) over the FULL batch vocabulary;
    - ``doclen``: (doc_id, dl);
    - ``stats``: one additive row (n_docs, sum_dl).

    Batches must partition DOCUMENTS, so per-batch (doc, term) rows
    are disjoint, df is their per-term count, and N/avgdl fold from
    the stats rows: the merged index is the one-shot corpus index at
    any batch split. A query (:func:`read_bm25_index`) filters the
    merged postings to its terms and reuses the one-shot scorer.

    Postings are TERM-CLUSTERED: each batch range-partitions its
    postings by ``term`` and sorts within files, so every row group
    carries a tight ``[min_term, max_term]`` stat and a query's
    ``term IN (...)`` pushes down to row-group skipping. File count
    per batch sizes from the batch's postings volume."""
    from ..functions.text import tokenize

    def write(batch_df: DataFrame, batch_id: int) -> None:
        import math

        toked = batch_df.select(
            F.col(id_col).alias("doc_id"),
            tokenize(text_col).alias("__toks"),
        )
        dl = toked.select("doc_id", F.size("__toks").alias("dl"))
        # one collected aggregate gives the stats row and sizes the
        # postings files (sum_dl upper-bounds distinct (doc, term)
        # rows; ~16 parquet bytes per posting)
        srow = dl.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0))
            .cast("bigint")
            .alias("sum_dl"),
        ).collect()[0]
        nf = max(1, min(4096, math.ceil(
            int(srow["sum_dl"]) * 16 / AUTO_BUCKET_TARGET_BYTES
        )))
        # the stats row is already on the driver: a Spark write of one
        # literal row would cost a whole job per micro-batch
        write_rows_parquet(
            batch_dir(path, batch_id, "stats"),
            [("n_docs", "bigint"), ("sum_dl", "bigint")],
            [(int(srow["n_docs"]), int(srow["sum_dl"]))],
        )
        postings = (
            toked.select("doc_id", F.explode("__toks").alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
            .repartitionByRange(nf, "term")
            .sortWithinPartitions("term")
        )
        write_additive(
            batch_df.sparkSession, path, batch_id, _BM25,
            {"postings": postings, "doclen": dl}, compact_every,
        )

    return write


def read_bm25_index(
    spark,
    path: str,
    query_terms: list[str],
    k: int = 10,
    k1: float | None = None,
    b: float | None = None,
) -> DataFrame:
    """Serve a BM25 query from :func:`bm25_index_sink` state: filter
    the merged postings to the query terms (disjoint across batches —
    no re-aggregation), count df per term, fold the additive stats
    rows to (N, avgdl) with the same exact-integer-sum-then-divide
    arithmetic as the one-shot ``avg(dl)``, and hand the four frames
    to the SHARED scorer (operators/retrieval.py:bm25_rank) — the
    result hash-equals the one-shot ``bm25_search`` over the same
    corpus."""
    from ..operators import retrieval as rt

    if not query_terms:
        raise ValueError("read_bm25_index needs at least one query term")
    terms = sorted({t.lower() for t in query_terms})
    # the postings files are term-clustered, so this IN predicate
    # pushes down to parquet row-group skipping
    tf = read_folded(spark, path, _BM25, "postings").filter(
        F.col("term").isin(terms)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    dl = read_folded(spark, path, _BM25, "doclen")
    stats = (
        read_folded(spark, path, _BM25, "stats")
        .select(
            F.col("n_docs").alias("__n"),
            F.col("sum_dl").alias("__s"),
        )
        # Spark's avg(long) divides the exact long sum by the count —
        # the identical double division this fold performs
        .select(
            F.col("__n").cast("double").alias("n_docs"),
            (F.col("__s").cast("double") / F.col("__n").cast("double"))
            .alias("avgdl"),
        )
    )
    kk1 = rt.BM25_K1 if k1 is None else k1
    kb = rt.BM25_B if b is None else b
    return rt.bm25_rank(tf, dfreq, dl, stats, k=k, k1=kk1, b=kb)


def copurchase_sink(
    path: str,
    basket_col: str = "basket_id",
    item_col: str = "item_id",
    max_basket: int | None = None,
    compact_every: int = COMPACT_EVERY,
):
    """Incremental market-basket maintenance: keep the co-purchase
    pair/item/basket counts (operators/basket.py:copurchase_pairs)
    current across micro-batches — the `line_count_sink` pattern
    applied to the a-priori L2 pass. Per batch, the rolled baskets'
    pair counts (support threshold NOT applied — it belongs to read
    time over the MERGED counts, so a pair crossing min_support only
    in a later batch counts retroactively), item presence counts and
    the basket count land under one ``batch=<id>`` directory.

    Batches must partition BASKETS — every row of a basket travels in
    one micro-batch (stage the source ``repartition(n, basket_col)``
    or key the topic by basket id). Then per-batch counts are additive
    and :func:`read_copurchase` equals the one-shot batch operator
    exactly. The streaming checkpoint commits offsets only after this
    writer returns, so every COMMITTED batch has all three frames."""
    from ..operators.basket import _pair_counts, _rolled_items

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from ..materialize import release

        rolled = _rolled_items(batch_df, basket_col, item_col, max_basket)
        try:
            # count FIRST: one job computes the rolled frame, populates
            # its materialized blocks and gives the basket count, written
            # driver-side. Racing all three consumers instead measured
            # WORSE (6.2 s vs 5.4 s): concurrent jobs each recompute the
            # not-yet-cached rolled partitions. The pairs/items writes
            # then read the same blocks as concurrent jobs.
            n_baskets = rolled.count()
            write_rows_parquet(
                batch_dir(path, batch_id, "baskets"),
                [("n", "bigint")], [(n_baskets,)],
            )
            items = (
                rolled.select(F.explode("__items").alias("item"))
                .groupBy("item")
                .agg(F.count("*").cast("bigint").alias("n"))
            )
            write_additive(
                batch_df.sparkSession, path, batch_id, _COPURCHASE,
                {"pairs": _pair_counts(rolled, 1), "items": items},
                compact_every,
            )
        finally:
            # the rolled frame is per-batch scratch; holding its
            # blocks across a long stream would pile up per batch
            release(rolled)

    return write


def read_copurchase(
    spark,
    path: str,
    k: int = 20,
    min_pair_support: int = 2,
) -> DataFrame:
    """The live co-purchase top-k from :func:`copurchase_sink` state:
    key-wise integer sums over the store (valid because batches
    partition baskets), support threshold and exact-integer lift
    applied over the MERGED counts — identical arithmetic to
    operators/basket.py:copurchase_pairs, so the result hash-equals
    the one-shot batch operator at any batch split."""
    pairs = read_folded(spark, path, _COPURCHASE, "pairs").filter(
        F.col("pair_n") >= min_pair_support
    )
    item_n = read_folded(spark, path, _COPURCHASE, "items")
    n_baskets = read_folded(spark, path, _COPURCHASE, "baskets").select(
        F.col("n").alias("__n")
    )
    na = item_n.select(F.col("item").alias("item_a"), F.col("n").alias("n_a"))
    nb = item_n.select(F.col("item").alias("item_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_n",
            "n_a",
            "n_b",
            F.round(
                (F.col("pair_n") * F.col("__n")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_n"), F.asc("item_a"), F.asc("item_b"))
        .limit(k)
    )


#: auto-sizing targets (:func:`_auto_buckets`). A bucket should be a
#: normal parquet partition at steady state — per-batch I/O is then
#: O(touched_keys × target), independent of store size.
AUTO_BUCKET_TARGET_BYTES = 128 * 2**20
#: batch-0 volume understates steady-state store size (a stream
#: accumulates state long after its first micro-batch; only when the
#: first batch is a seed/backfill are they close). Oversizing is the
#: cheap direction — buckets beyond the live key count simply never
#: materialize (a dir exists only when keys hash into it, so the
#: store degenerates gracefully toward one-dir-per-key), while
#: undersizing loses the touched-bucket economics until a manual
#: re-hash — so bias up.
AUTO_BUCKET_HEADROOM = 8
#: JSON text overstates parquet-on-disk (columnar + snappy) — the
#: estimator divides by this before applying the headroom.
AUTO_BUCKET_JSON_DEFLATION = 4
#: clamps: enough buckets that even a tiny store keeps per-key
#: pruning, and a ceiling past which a real table format (row-level
#: MERGE, manifest-tracked files) is the honest answer — 65536 ×
#: 128 MB ≈ 8 TB of addressable state per store.
AUTO_BUCKET_MIN = 8
AUTO_BUCKET_MAX = 65536


def _auto_buckets(sizing: DataFrame) -> int:
    """Size a NEW bucketed store from its batch-0 state frame: one
    aggregate estimates the frame's serialized bytes
    (``octet_length(to_json(struct(*)))`` — no second write, no plan
    statistics guesswork), deflates JSON→parquet, applies the
    documented headroom, and targets :data:`AUTO_BUCKET_TARGET_BYTES`
    per bucket. Runs exactly once per store lifetime (the result is
    pinned in the store manifest); replays of batch 0 re-derive the
    same value from the same rows."""
    import math

    est = sizing.agg(
        F.sum(F.octet_length(F.to_json(F.struct(*sizing.columns))))
    ).collect()[0][0]
    par = (est or 0) / AUTO_BUCKET_JSON_DEFLATION
    raw = math.ceil(par * AUTO_BUCKET_HEADROOM / AUTO_BUCKET_TARGET_BYTES)
    return max(AUTO_BUCKET_MIN, min(AUTO_BUCKET_MAX, raw))


def _bucket_of(n_buckets: int, *cols) -> "F.Column":
    """Deterministic state bucket of a key tuple. ``F.hash`` is
    Murmur3 with a fixed seed, stable across sessions/restarts (the
    bucket layout must survive the process); a NULL key hashes to the
    seed, so NULL-keyed rows live in one bucket and round-trip the
    store instead of being dropped."""
    return F.pmod(F.hash(*cols), F.lit(int(n_buckets)))


def _bucket_meta(
    path: str, n_buckets: int | None, sizing: DataFrame | None = None
) -> dict:
    """Load-or-init the store manifest, enforcing the persisted
    bucket count: the layout is a pure function of ``n_buckets``, so
    reopening with a different value would scatter each key's state
    across two incompatible hash layouts — refuse loudly.

    ``n_buckets=None`` (the default on every bucketed sink) means
    *adopt*: an existing store keeps its manifest value, a NEW store
    sizes itself from ``sizing`` (its batch-0 state frame) via
    :func:`_auto_buckets`. An explicit value is a pin — it still
    raises on reopen mismatch."""
    meta = load_manifest(path)
    if meta is None:
        if n_buckets is None:
            n_buckets = _auto_buckets(sizing)
        return {"n_buckets": int(n_buckets), "ver": {}, "gc": []}
    if n_buckets is not None and int(meta["n_buckets"]) != int(n_buckets):
        raise ValueError(
            f"bucketed store {path} was created with "
            f"n_buckets={meta['n_buckets']}; reopening with "
            f"n_buckets={n_buckets} would split keys across layouts"
        )
    return meta


def _bucketed(incoming: DataFrame, path: str, n_buckets, *keys):
    """Open a bucket-version store for one batch: load (or size) its
    manifest, tag ``incoming`` with its bucket ``__b`` of ``keys``,
    and collect the touched buckets — at most n_buckets rows, so the
    collect is a constant-sized plan. Returns (incoming, manifest,
    sorted touched bucket ids)."""
    meta = _bucket_meta(path, n_buckets, sizing=incoming)
    incoming = incoming.withColumn(
        "__b", _bucket_of(meta["n_buckets"], *keys)
    )
    buckets = sorted(
        r["__b"] for r in incoming.select("__b").distinct().collect()
    )
    return incoming, meta, buckets


def _cdc_rows(batch_df: DataFrame, ord_cols: tuple[str, ...]) -> DataFrame:
    """The CDC sinks' incoming write rows, keyed by (table, id)."""
    return batch_df.select(
        "table",
        F.get_json_object("data", "$.id").alias("id"),
        "data",
        "op",
        *[F.col(c) for c in ord_cols],
    )


#: env flag: after every funnel/transition event-store swap, scan the
#: WHOLE store for a write id appearing in more than one row. The
#: per-bucket ``dropDuplicates(__id)`` is exact ONLY under the
#: replays-are-identical contract (a duplicate re-delivered with a
#: DIFFERENT — or NULL-vs-non-NULL — user id hashes to a different
#: bucket and escapes the dedup, silently corrupting counts); this
#: check turns that contract violation into a loud failure. O(store)
#: per batch, so it is debug-mode only — enable in integration tests
#: or canary streams, never the hot path.
STRICT_IDS_ENV = "SPARK_GRAFT_STRICT_IDS"


def _assert_unique_ids(spark, path: str) -> None:
    if not os.environ.get(STRICT_IDS_ENV):
        return
    dup = (
        read_buckets(spark, path)
        .groupBy("__id")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        ids = [r["__id"] for r in dup]
        raise AssertionError(
            f"event-id duplicated ACROSS buckets in {path}: {ids} — a "
            "replay delivered the same id under a different key, which "
            "the per-bucket dedup cannot collapse (violates the "
            "replays-are-identical contract)"
        )


def _semi_on_user(df: DataFrame, touched: DataFrame, how: str) -> DataFrame:
    """Null-safe touched-user semi/anti join: ``eqNullSafe`` so a
    NULL user id matches itself — the batch operators window NULL
    users into one group and count them, and the streaming state must
    agree (a plain column-name join would silently drop them)."""
    t = touched.select(F.col("__u").alias("__tu"))
    return df.join(t, df["__u"].eqNullSafe(t["__tu"]), how)


def dim_upsert_sink(
    path: str,
    ord_cols: tuple[str, ...] = ("ts_ms", "event_id"),
    n_buckets: int | None = None,
):
    """K4's streaming binding: maintain a last-write-wins dim snapshot
    across micro-batches — the engine's replacement for the per-row
    ``jedis.set("DIM:<TABLE>:<id>", json)`` loop
    (OdsBaseDbApp.scala:128-140).

    Per batch: merge the incoming dim rows with the current snapshot
    via ``operators.cdc.dim_snapshot`` (max_by on the carried write
    order, delete tombstones evict), then commit the touched buckets
    through the store manifest. Replayed batches re-merge
    the same rows into the same result — max_by is idempotent on
    duplicates — so at-least-once delivery composes to exactly-once
    state (T5).

    Snapshot state is hash-bucketed by (table, id) — versioned
    ``b=<bucket>-v<ver>`` dirs behind the store manifest
    (streaming/store.py) — so a micro-batch reads and rewrites ONLY
    the buckets its keys hash into: per-batch I/O is
    O(touched_keys × store/n_buckets), not O(store). A delete
    that empties a bucket drops it from the manifest (leaving it
    would resurrect the evicted key). At 100 TB-scale the same
    pattern targets a table format with row-level MERGE; the
    manifest-committed swap keeps the test environment to plain
    parquet while preserving the observable semantics AND the
    touched-partition economics. Read with
    :func:`read_dim_snapshot`."""
    from ..operators.cdc import dim_snapshot

    def write(batch_df: DataFrame, batch_id: int) -> None:
        cols = ["table", "id", "data", "op", *ord_cols]
        incoming, meta, buckets = _bucketed(
            _cdc_rows(batch_df, ord_cols), path, n_buckets, "table", "id"
        )
        if not buckets:
            return
        nb = meta["n_buckets"]
        if meta["ver"]:
            # prior snapshot rows of the TOUCHED buckets re-enter the
            # merge as latest-so-far writes (op=U) with their stored
            # order columns; untouched buckets are never read
            prior = read_buckets(
                batch_df.sparkSession, path, buckets
            ).select(*cols)
            merged = prior.unionByName(incoming.select(*cols))
        else:
            merged = incoming.select(*cols)
        snap = dim_snapshot(
            merged.drop("id"), ord_cols=ord_cols
        )
        # dim_snapshot drops ord cols; re-derive them for the next merge
        keep_ord = merged.groupBy("table", "id").agg(
            *[F.max(c).alias(c) for c in ord_cols]
        )
        out = (
            snap.join(keep_ord, ["table", "id"])
            .withColumn("op", F.lit("U"))
            .select(*cols)
            .withColumn("__b", _bucket_of(nb, "table", "id"))
        )
        swap_buckets(out, path, buckets, meta)

    return write


def read_dim_snapshot(spark, path: str) -> DataFrame:
    """The live last-write-wins dim snapshot from
    :func:`dim_upsert_sink` state — one manifest snapshot, never
    mutates the store."""
    return read_buckets(spark, path)


def scd2_sink(
    path: str,
    ord_cols: tuple[str, ...] = ("ts_ms", "event_id"),
    n_buckets: int | None = None,
):
    """Streaming SCD type-2 maintenance: keep the full versioned dim
    history (``operators.cdc.scd2_history``'s contract) current across
    micro-batches.

    Unlike the last-write-wins :func:`dim_upsert_sink`, history rows
    are never discarded — a new write CLOSES the previously-open
    version of its key and appends a new one; a late (out-of-order)
    write splits the interval it lands in. Doing that correctly and
    incrementally:

    - State = every write ever seen (including deletes, which close
      intervals but emit no version), with its recomputed interval
      columns, hash-bucketed by (table, id) — versioned
      ``b=<bucket>-v<ver>`` dirs behind a manifest
      (:func:`store.swap_buckets`). Replays dedupe on the total write
      order (table, id, ord_cols), so at-least-once delivery composes
      to exactly-once history (T5); the dedup is valid per bucket
      because a write's duplicates share its key, hence its bucket.
    - Per batch, ONLY the keys present in the batch recompute: the
      TOUCHED buckets' prior state splits via null-safe anti/semi
      join on the touched keys, the touched slice unions the new
      writes and re-windows (the same entity-keyed window as the
      batch operator), untouched keys within touched buckets carry
      over; untouched buckets are never read or rewritten. Per-batch
      I/O is O(touched_keys × store/n_buckets), not O(store) — at
      100 TB this is the MERGE-on-key pattern on a table format,
      expressed on plain parquet via the bucketed swap.

    Read the current history with :func:`read_scd2` (filters the
    delete markers, projects the SCD2 contract columns)."""
    from pyspark.sql import Window

    def write(batch_df: DataFrame, batch_id: int) -> None:
        state_cols = ["table", "id", "data", "op", *ord_cols,
                      "version", "valid_from", "valid_to", "is_current"]
        write_cols = ["table", "id", "data", "op", *ord_cols]
        first_ord = ord_cols[0]
        incoming, meta, buckets = _bucketed(
            _cdc_rows(batch_df, ord_cols), path, n_buckets, "table", "id"
        )
        if not buckets:
            return
        nb = meta["n_buckets"]
        if meta["ver"]:
            prior = read_buckets(
                batch_df.sparkSession, path, buckets
            ).withColumn("__b", _bucket_of(nb, "table", "id"))
            touched = incoming.select("table", "id").distinct().select(
                F.col("table").alias("__tt"), F.col("id").alias("__ti")
            )
            key_match = prior["table"].eqNullSafe(
                touched["__tt"]
            ) & prior["id"].eqNullSafe(touched["__ti"])
            untouched = prior.join(touched, key_match, "left_anti").select(
                *state_cols, "__b"
            )
            replay = prior.join(touched, key_match, "left_semi").select(
                *write_cols
            )
            writes = replay.unionByName(incoming.select(*write_cols))
        else:
            untouched = None
            writes = incoming.select(*write_cols)
        # at-least-once → exactly-once: a replayed batch re-delivers
        # identical writes; the total write order dedupes them
        writes = writes.dropDuplicates(["table", "id", *ord_cols])
        w = Window.partitionBy("table", "id").orderBy(
            *[F.col(c) for c in ord_cols]
        )
        recomputed = (
            writes.withColumn("version", F.row_number().over(w).cast("int"))
            .withColumn("valid_to", F.lead(F.col(first_ord)).over(w))
            .withColumn("valid_from", F.col(first_ord))
            .withColumn(
                "is_current", F.col("valid_to").isNull().cast("int")
            )
            .select(*state_cols)
            .withColumn("__b", _bucket_of(nb, "table", "id"))
        )
        out = (
            recomputed
            if untouched is None
            else untouched.unionByName(recomputed)
        )
        swap_buckets(out, path, buckets, meta)

    return write


def read_scd2(spark, path: str) -> DataFrame:
    """Project the SCD2 contract (operators/cdc.py:scd2_history) out
    of :func:`scd2_sink` state: delete markers close intervals but
    carry no version row. Resolves one manifest snapshot; never
    mutates the store."""
    return (
        read_buckets(spark, path)
        .filter(F.col("op") != "D")
        .select(
            "table", "id", "data", "version",
            "valid_from", "valid_to", "is_current",
        )
    )


def ivf_append_sink(index_path: str, vec_col: str = "embedding"):
    """Streaming IVF index maintenance: each micro-batch of new
    vectors routes to the FIXED learned centroids and lands in its
    own ``delta/batch=<id>`` dir of the index's delta store, an
    additive store in append mode (streaming/store.py;
    operators/similarity.py:ivf_append) — the deterministic per-batch
    location makes replays overwrite their previous attempt (T5
    idempotence), and ``ivf_search`` serves the base + the delta
    store's live view with the same cell-pruned scan.
    ``ivf_compact`` folds the committed deltas into a segment.
    Centroid re-training stays a separate offline job, exactly how
    production IVF deployments absorb a continuous ingest stream."""
    from ..operators.similarity import ivf_append

    def write(batch_df: DataFrame, batch_id: int) -> None:
        ivf_append(batch_df, index_path, batch_id, vec_col=vec_col)

    return write


def _touched_user_sink(
    path: str,
    derived: str,
    recompute,
    user_col: str,
    type_col: str,
    ts_col: str,
    id_col: str,
    n_buckets: int | None,
    stages: list[str] | None = None,
):
    """The two-store touched-user recompute behind :func:`funnel_sink`
    and :func:`transition_sink`. ``<path>/events`` keeps every event
    (of ``stages``, when given), deduped on ``id_col``;
    ``<path>/<derived>`` keeps ``recompute(events)`` per user. Both
    stores are bucketed by user with ONE layout: the events store
    sizes (or pins) n_buckets and the derived store adopts it. Per
    batch, only the touched users recompute, from their full event
    slice; untouched users in touched buckets carry over.

    Crash ordering: events commits BEFORE the derived store. A crash
    at any point replays the batch (offsets commit only after this
    writer returns); the id-dedup makes the events merge idempotent
    and the recompute deterministic, so every crash point converges."""
    ev_path = os.path.join(path, "events")
    d_path = os.path.join(path, derived)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src = batch_df
        if stages is not None:
            src = src.filter(F.col(type_col).isin(list(stages)))
        incoming, ev_meta, buckets = _bucketed(
            src.select(
                F.col(user_col).alias("__u"),
                F.col(type_col).alias("__type"),
                F.col(ts_col).alias("__ts"),
                F.col(id_col).alias("__id"),
            ),
            ev_path, n_buckets, "__u",
        )
        if not buckets:
            return
        nb = ev_meta["n_buckets"]
        d_meta = _bucket_meta(d_path, nb)
        merged = incoming
        if ev_meta["ver"]:
            merged = (
                read_buckets(spark, ev_path, buckets)
                .withColumn("__b", _bucket_of(nb, "__u"))
                .unionByName(incoming)
                .dropDuplicates(["__id"])
            )
        # Measured and rejected: materializing ``merged`` once and
        # running the two swaps as concurrent jobs off its blocks took
        # a transition_sink batch from 0.87 s to 1.35 s at sf0.1. The
        # extra materialize job costs ~0.33 s, and both swaps then
        # read row-oriented DISK_ONLY blocks where the recompute below
        # re-reads the events swap's freshly written columnar parquet.
        # The serial write-then-reread is the faster shape. It needs
        # no checkpoint (the swap stages its plan while the old
        # version dirs are still in place), and re-reading the commit
        # avoids a localCheckpoint's unreplicated executor-local
        # blocks.
        swap_buckets(merged, ev_path, buckets, ev_meta)
        _assert_unique_ids(spark, ev_path)
        touched = incoming.select("__u").distinct()
        out = recompute(
            _semi_on_user(
                read_buckets(spark, ev_path, buckets), touched, "left_semi"
            )
        ).withColumn("__b", _bucket_of(nb, "__u"))
        if d_meta["ver"]:
            prior = read_buckets(spark, d_path, buckets).withColumn(
                "__b", _bucket_of(nb, "__u")
            )
            out = _semi_on_user(prior, touched, "left_anti").unionByName(out)
        swap_buckets(out, d_path, buckets, d_meta)

    return write


def funnel_sink(
    path: str,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "event_time",
    id_col: str = "event_id",
    n_buckets: int | None = None,
):
    """Incremental ORDERED-funnel maintenance: keep the per-user
    first-touch completion times (operators/funnel.py:funnel_times)
    current across micro-batches — the stateful-sequence sibling of
    :func:`scd2_sink`, same touched-key recompute pattern.

    Funnel times are NOT batch-decomposable (a late stage-0 event can
    retroactively move t_0 and cascade through every later stage), so
    the sink keeps two state tables under ``path``, each hash-bucketed
    by user (``__b = pmod(hash(user), n_buckets)``; manifest-committed
    versioned bucket dirs, :func:`store.swap_buckets`):

    - ``events``: every funnel-stage event seen, deduped on
      ``id_col`` — replays merge to the identical store, so
      at-least-once delivery composes to exactly-once times (T5).
      Valid per bucket: an event's duplicates share its user, hence
      its bucket.
    - ``times``: the per-user funnel_times frame. Per batch, ONLY the
      users present in the batch recompute, from their full event
      slice; untouched users in touched buckets carry over.

    Per-batch I/O is confined to the TOUCHED buckets: the merge, the
    id-dedup, the carry-over anti-join, and the swap all read and
    rewrite only ``__b`` partitions the batch's users hash into —
    untouched buckets are never listed (see :func:`store.swap_buckets`).
    Cost per batch is therefore O(touched_buckets × bucket_size) ≈
    O(touched_users × store/n_buckets), NOT O(store): at production
    scale size ``n_buckets`` so a bucket is a normal parquet
    partition (~store/128 MB) and a sparse batch touches a sliver of
    the store. (A batch touching ≥ n_buckets distinct users still
    rewrites everything — that is the dense case where a full pass is
    genuinely required.)

    Crash ordering: events commits BEFORE times, and every crash
    point converges on replay (see :func:`_touched_user_sink`). NULL
    user ids are kept (they bucket on the hash seed and join
    null-safely), matching the batch operator's windowing. Read the
    live funnel with :func:`read_funnel`."""
    from ..operators.funnel import funnel_times

    return _touched_user_sink(
        path,
        "times",
        lambda ev: funnel_times(
            ev, list(stages), user_col="__u", type_col="__type",
            ts_col="__ts",
        ),
        user_col, type_col, ts_col, id_col, n_buckets,
        stages=stages,
    )


def read_funnel(spark, path: str, stages: list[str]) -> DataFrame:
    """The live funnel (stage_idx, stage, n_users) from
    :func:`funnel_sink` state."""
    from ..operators.funnel import funnel_counts_from_times

    t_path = os.path.join(path, "times")
    return funnel_counts_from_times(
        read_buckets(spark, t_path), list(stages)
    )


def transition_sink(
    path: str,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "event_time",
    id_col: str = "event_id",
    n_buckets: int | None = None,
):
    """Incremental Markov-transition maintenance: keep the per-user
    (from_event, to_event) counts (operators/funnel.py:
    transition_pairs_by_user) current across micro-batches — the
    :func:`funnel_sink` touched-key recompute pattern, because
    transitions are NOT batch-decomposable (a late event can insert a
    pair with, or break the session gap to, an event from an earlier
    batch — so per-batch pair counting would drift; only a user's
    FULL ordered slice counts correctly).

    Two user-hash-bucketed state tables under ``path``
    (manifest-committed versioned bucket dirs, see :func:`funnel_sink`
    and :func:`store.swap_buckets` for the layout contract):
    ``events`` (all transition-relevant events, deduped on ``id_col``
    — replays merge to the identical store, T5; valid per bucket
    because an event's duplicates share its user's bucket) and
    ``pairs`` (per-user counts; per batch ONLY the users present
    recompute from their full slice, untouched users in touched
    buckets carry over). Per-batch I/O is confined to the touched
    buckets — O(touched_users × store/n_buckets), not O(store); a
    batch touching ≥ n_buckets distinct users rewrites everything,
    which is the genuinely-dense case. NULL user ids are kept (hash
    seed bucket + null-safe joins), matching the batch window's
    NULL grouping. Crash ordering as in funnel_sink: events swaps
    first; every crash point replays and converges. Read the live
    matrix with :func:`read_transition`."""
    from ..operators.funnel import transition_pairs_by_user

    return _touched_user_sink(
        path,
        "pairs",
        lambda ev: transition_pairs_by_user(
            ev, gap_seconds=gap_seconds, user_col="__u", type_col="__type",
            ts_col="__ts", order_col="__id",
        ),
        user_col, type_col, ts_col, id_col, n_buckets,
    )


def read_transition(spark, path: str) -> DataFrame:
    """The live transition matrix from :func:`transition_sink` state:
    per-user counts sum to the corpus counts (users partition the
    pair set), then the SAME normalization as the one-shot
    transition_matrix — bit-identical prob at any batch split.
    Resolves one manifest snapshot; never mutates the store."""
    from ..operators.funnel import transition_matrix_from_counts

    p_path = os.path.join(path, "pairs")
    pairs = (
        read_buckets(spark, p_path)
        .groupBy("from_event", "to_event")
        .agg(F.sum("n").cast("bigint").alias("n"))
    )
    return transition_matrix_from_counts(pairs)


