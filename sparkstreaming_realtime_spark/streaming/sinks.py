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
    read_folded,
    run_concurrent,
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
        # the verdict is already on the driver: write its rows, not a
        # second run of the suite
        write_rows_parquet(
            batch_dir(os.path.join(path, "verdicts"), batch_id),
            [(f.name, f.dataType.simpleString()) for f in verdict.schema],
            [tuple(r) for r in rows],
        )
        extra = {} if ok else {os.path.join(path, "quarantine"): batch_df}
        write_additive(
            batch_df.sparkSession, os.path.join(path, "accepted"),
            batch_id, _raw_spec(), {"": batch_df} if ok else {},
            compact_every, extra,
        )

    return write


#: target bytes of one parquet file: :func:`bm25_index_sink` sizes its
#: postings file count from it
TARGET_FILE_BYTES = 128 * 2**20


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
            int(srow["sum_dl"]) * 16 / TARGET_FILE_BYTES
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


# -- keyed state: the CDC dims and the event-sequence stores -----------
# Each batch writes its raw rows; the fold (compaction and every read)
# keeps the state the one-shot operator needs, and the reader runs that
# operator over it. A batch writes only its own ``batch=<id>`` dir.


def _cdc_rows(batch_df: DataFrame, ord_cols: tuple[str, ...]) -> DataFrame:
    """The CDC sinks' incoming write rows, keyed by (table, id)."""
    return batch_df.select(
        "table",
        F.get_json_object("data", "$.id").alias("id"),
        "data",
        "op",
        *[F.col(c) for c in ord_cols],
    )


def _write_order(df: DataFrame) -> list[str]:
    """The write-order columns of a CDC store: the sink's ``ord_cols``,
    written after (table, id, data, op)."""
    return [c for c in df.columns if c not in ("table", "id", "data", "op")]


def _newest_per_key(df: DataFrame) -> DataFrame:
    """The newest write per (table, id) by the write order, tombstones
    (op = 'D') kept, so a delete still beats an older write that
    arrives after it."""
    newest = F.max_by(F.struct(*df.columns), F.struct(*_write_order(df)))
    return df.groupBy("table", "id").agg(newest.alias("__n")).select("__n.*")


_DIM = {"": SubFold(fold=_newest_per_key)}
#: every write once: a replayed write has the same key and write order
_SCD2 = {"": SubFold(fold=lambda df: df.dropDuplicates(
    ["table", "id", *_write_order(df)]))}
#: every event once, by its id
_EVENTS = {"": SubFold(fold=lambda df: df.dropDuplicates(["__id"]))}


def dim_upsert_sink(
    path: str,
    ord_cols: tuple[str, ...] = ("ts_ms", "event_id"),
    compact_every: int = COMPACT_EVERY,
):
    """K4's streaming binding: maintain a last-write-wins dim snapshot
    across micro-batches — the engine's replacement for the per-row
    ``jedis.set("DIM:<TABLE>:<id>", json)`` loop
    (OdsBaseDbApp.scala:128-140).

    Each batch writes its (table, id, data, op, *ord_cols) rows to its
    own ``batch=<id>`` dir; a replay overwrites it (T5). The store's
    fold keeps the newest write per (table, id), delete tombstones
    included, so compaction bounds the store by the key count and a
    late write older than a delete stays deleted. A batch writes only
    its own dir and never rewrites earlier state; the read folds the
    segment with the tail written since. Read with
    :func:`read_dim_snapshot`."""
    return additive_sink(
        path, _DIM, lambda df: {"": _cdc_rows(df, ord_cols)}, compact_every
    )


def read_dim_snapshot(spark, path: str) -> DataFrame:
    """The live last-write-wins dim snapshot from
    :func:`dim_upsert_sink` state: the folded newest write per key
    without the tombstones. One manifest snapshot; never mutates the
    store."""
    return read_folded(spark, path, _DIM).filter(F.col("op") != "D")


def scd2_sink(
    path: str,
    ord_cols: tuple[str, ...] = ("ts_ms", "event_id"),
    compact_every: int = COMPACT_EVERY,
):
    """Streaming SCD type-2 maintenance: keep the full versioned dim
    history (``operators.cdc.scd2_history``'s contract) current across
    micro-batches. A late (out-of-order) write splits the interval it
    lands in, and a delete closes the version before it.

    The store holds every write ever seen, deletes included, once per
    (table, id, *ord_cols): each batch writes its rows to its own
    ``batch=<id>`` dir and the fold drops replayed duplicates, so
    at-least-once delivery composes to exactly-once history (T5).
    :func:`read_scd2` runs the one-shot ``scd2_history`` over the
    folded writes, so the intervals are recomputed at read time and
    the read cost grows with the number of writes."""
    return additive_sink(
        path, _SCD2, lambda df: {"": _cdc_rows(df, ord_cols)}, compact_every
    )


def read_scd2(spark, path: str) -> DataFrame:
    """The SCD2 history (operators/cdc.py:scd2_history) of
    :func:`scd2_sink` state: the one-shot operator over the folded
    writes. One manifest snapshot; never mutates the store."""
    from ..operators.cdc import scd2_history

    writes = read_folded(spark, path, _SCD2)
    return scd2_history(writes, ord_cols=tuple(_write_order(writes)))


def _event_sink(path, user_col, type_col, ts_col, id_col, compact_every,
                stages=None):
    """The event store behind :func:`funnel_sink` and
    :func:`transition_sink`: each batch writes its events (of
    ``stages``, when given) as (__u, __type, __ts, __id) to its own
    ``batch=<id>`` dir, and the fold keeps each ``id_col`` once."""

    def rows(batch_df: DataFrame) -> dict[str, DataFrame]:
        if stages is not None:
            batch_df = batch_df.filter(F.col(type_col).isin(list(stages)))
        return {"": batch_df.select(
            F.col(user_col).alias("__u"),
            F.col(type_col).alias("__type"),
            F.col(ts_col).alias("__ts"),
            F.col(id_col).alias("__id"),
        )}

    return additive_sink(path, _EVENTS, rows, compact_every)


def funnel_sink(
    path: str,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "event_time",
    id_col: str = "event_id",
    compact_every: int = COMPACT_EVERY,
):
    """Incremental ORDERED-funnel maintenance. Funnel times are NOT
    batch-decomposable: a late stage-0 event can move t_0 and cascade
    through every later stage. So the sink keeps the funnel-stage
    events themselves, each ``id_col`` once (a replay merges to the
    same store, T5), and :func:`read_funnel` runs the one-shot
    operator over them.

    A batch writes only its own ``batch=<id>`` dir. The read
    recomputes from the event store, so its cost grows with the
    number of events, not the number of users. NULL user ids are
    kept, as the one-shot operator keeps them."""
    return _event_sink(path, user_col, type_col, ts_col, id_col,
                       compact_every, stages=stages)


def read_funnel(spark, path: str, stages: list[str]) -> DataFrame:
    """The live funnel (stage_idx, stage, n_users) from
    :func:`funnel_sink` state: operators/funnel.py:funnel over the
    folded events."""
    from ..operators.funnel import funnel

    return funnel(read_folded(spark, path, _EVENTS), list(stages),
                  user_col="__u", type_col="__type", ts_col="__ts")


def transition_sink(
    path: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "event_time",
    id_col: str = "event_id",
    compact_every: int = COMPACT_EVERY,
):
    """Incremental Markov-transition maintenance. Transitions are NOT
    batch-decomposable: a late event can insert a pair into, or break
    the session gap of, an earlier batch's sequence. So the sink keeps
    the events themselves, each ``id_col`` once (a replay merges to
    the same store, T5), and :func:`read_transition` runs the one-shot
    ``transition_matrix`` over them.

    A batch writes only its own ``batch=<id>`` dir. The read
    recomputes from the event store, so its cost grows with the
    number of events, not the number of users. NULL user ids are
    kept, as the one-shot window keeps them."""
    return _event_sink(path, user_col, type_col, ts_col, id_col,
                       compact_every)


def read_transition(spark, path: str) -> DataFrame:
    """The live transition matrix from :func:`transition_sink` state:
    operators/funnel.py:transition_matrix (default session gap) over
    the folded events, bit-identical to the one-shot matrix at any
    batch split. One manifest snapshot; never mutates the store."""
    from ..operators.funnel import transition_matrix

    return transition_matrix(
        read_folded(spark, path, _EVENTS),
        user_col="__u", type_col="__type", ts_col="__ts", order_col="__id",
    )
