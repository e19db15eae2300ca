"""The store layout and the one commit protocol of the streaming sinks.

Every stateful sink keeps its state in a directory (the *store*) whose
live content is named by ONE manifest, ``<store>/_MANIFEST.json``. This
module is the only code that reads, publishes, garbage-collects and
recovers it.

**Segments + tail.** Every store in the spec table of
streaming/sinks.py (written through ``sinks.write_additive``; the keyed
CDC and event-sequence stores among them) and the IVF index's ``delta``
store (ivf_append_sink writes it, operators/similarity.py:ivf_compact
folds it) has this one layout.
Each micro-batch writes one ``batch=<id>`` dir (:func:`batch_dir`, the
only code that names it), a deterministic
function of the batch id, so a replayed batch OVERWRITES its previous
attempt: at-least-once delivery composes to exactly-once output (the
engine analog of the reference's ES doc-id upserts,
MyEsUtils.scala:41-52). Compaction keeps the dir count independent of
stream lifetime::

    {"gen": 3,                       # compaction generation
     "upto": 57,                     # batch ids <= upto are folded
     "segments": {"": ["seg=3"]},    # committed base, per sub-store
     "gc": ["seg=2", "batch=41"]}    # dropped by this commit

- The live view is the segments plus the tail ``batch=<id>`` dirs with
  ``id > upto`` (:func:`store_parts`); without a manifest, every
  ``batch=<id>`` dir.
- *Visibility.* A tail dir holds a committed batch once its
  ``_SUCCESS`` marker exists: Spark writes the marker after the job
  commit (Hadoop's ``mapreduce.fileoutputcommitter.marksuccessfuljobs``,
  true by default), and ``mode("overwrite")`` deletes the dir first,
  so a replay leaves the live set and comes back with a new marker.
  Both hold only under the static ``partitionOverwriteMode`` (the
  dynamic mode writes no marker and keeps partitions a replay does not
  rewrite), so the stores' own partitioned writes pass ``static`` as a
  write option whatever the session's mode.
  :func:`live_dirs` applies this rule and names each live dir by
  ``(name, st_ino, st_mtime_ns)`` (the marker's stat for a tail dir,
  the dir's own for a segment), which is what per-dir read caches key
  on. :func:`store_parts` reads every tail dir; the engine's own
  readers run between batches.
- *Fold mode* (aggregated and keyed stores) rewrites base ∪ tail into
  one segment with the store's own merge (key-wise integer sum,
  set-distinct, k-smallest, newest write per key, dedup on an id), so
  the base stays O(keys).
- *Append mode* (identity stores: raw rows, BM25 postings/doclen, IVF
  deltas) consolidates only the tail into a new segment. Segments are
  size-tiered: once :data:`TIER_FANOUT` exist, the smallest ``fanout``
  merge into one (the LSM leveling rule), so the segment count stays
  O(fanout · log data) and each row is rewritten O(log_fanout data)
  times.
- Only ids strictly below the in-flight batch fold. Structured
  Streaming replays at most the in-flight batch, so its replay still
  overwrites the tail, and a replayed compaction is a no-op (``upto``
  already covers the folded ids). ``ivf_compact`` runs after its
  batch's write has landed and folds that batch too; a replay of it
  rewrites a dir at or below ``upto``, which is never served and is
  deleted by the next commit with the rest of the gc list.

**The protocol:**

- *Commit.* The manifest publish (tmp + fsync + ``os.replace``) is the
  single commit point. Readers resolve one manifest, see the whole
  store before or after a commit, never a mix, and never mutate it.
- *GC hand-off.* A commit lists the dirs it stops serving under
  ``gc``; the NEXT commit deletes them, so a reader holding the older
  manifest has one full commit interval to finish.
- *Recovery.* A ``seg=*`` dir that the manifest neither serves nor
  lists for gc is garbage from a commit that crashed before its
  publish. Only the write path deletes it, right before its next
  commit (:func:`_reclaim`); the crashed batch replays from the
  streaming checkpoint and rebuilds.
- *Known window.* ``sinks.write_additive`` runs a batch's write and
  the prior tail's compaction concurrently. If the compaction publishes
  and the batch write fails, an external reader sees the folded view
  plus a partial ``batch=<id>`` dir until the replay overwrites it.
  The engine's own readers run between batches and never see it.

At 100 TB scale this is the discipline every table format
(Iceberg/Delta/Hudi) applies to streaming upserts — manifest-pointed
files, deferred GC — expressed on plain parquet and local ``os``
calls, so the test environment needs no extra dependency.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame

#: default compaction cadence: fold once this many committed batch
#: directories accumulate in the tail. Test-scale value — at the
#: reference's 2 s trigger, 16 keeps the tail under ~32 s of stream
#: while amortizing each fold over 16 appends; size it up when folds
#: are expensive relative to the per-batch write.
COMPACT_EVERY = 16

_MANIFEST = "_MANIFEST.json"

#: append-mode size-tiering fan-in: merge the smallest ``fanout``
#: segments whenever at least this many exist. 8 keeps steady-state
#: listing/planning at O(fanout · log) segments while each row is
#: rewritten only O(log_8 data) times over the store's lifetime.
TIER_FANOUT = 8


def _dir_bytes(root: str) -> int:
    total = 0
    for dp, _dn, fns in os.walk(root):
        for fn in fns:
            try:
                total += os.stat(os.path.join(dp, fn)).st_size
            except OSError:
                pass
    return total


@dataclass(frozen=True)
class SubFold:
    """Compaction spec for one sub-store.

    ``fold``: the store's merge (fold mode) — rewrites base ∪ tail
    into one segment. ``None`` = append mode: consolidate only the
    tail into a new segment, prior segments carry over untouched.
    ``partition_by``: re-partition the segment by this column when
    present (the raw sink's ``dt`` layout survives compaction).
    ``range_by``: range-partition + sort the segment files by this
    column (the BM25 postings' term clustering survives compaction,
    so min/max row-group stats keep pruning on the compacted base).
    ``use_base_path``: read the tail with ``basePath`` so partition
    columns below ``batch=<id>`` (e.g. ``dt=``) resolve; the
    synthetic ``batch`` column is dropped before writing.
    """

    fold: Optional[Callable[[DataFrame], DataFrame]] = None
    partition_by: Optional[str] = None
    range_by: Optional[str] = None
    use_base_path: bool = False


def load_manifest(path: str) -> Optional[dict]:
    try:
        with open(os.path.join(path, _MANIFEST)) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _publish_manifest(path: str, manifest: dict) -> None:
    """Atomic publish: tmp + fsync + ``os.replace`` — readers see the
    old manifest or the new one, never a torn write."""
    tmp = os.path.join(path, _MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, _MANIFEST))


def _reclaim(path: str, m: dict) -> None:
    """Write path only, right before a commit: delete the dirs the
    current manifest ``m`` handed to gc (their readers had one commit
    interval), and every protocol dir it neither serves nor lists —
    the garbage of a commit that crashed before its publish."""
    gc = m["gc"]
    keep = {d.split("/")[0] for d in gc}
    keep |= {s.split("/")[0] for segs in m["segments"].values() for s in segs}
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        names = []
    garbage = [n for n in names
               if n.startswith("seg=") and n not in keep]
    for d in gc + garbage:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)


def batch_dir(path: str, batch_id, sub: str = "") -> str:
    """The tail dir of micro-batch ``batch_id``: ``<path>/batch=<id>``,
    or ``<path>/batch=<id>/<sub>`` for a sub-store. ``batch_id="*"``
    gives the glob over every batch."""
    return os.path.join(path, _batch_rel(batch_id, sub))


def _batch_rel(batch_id, sub: str = "") -> str:
    return f"batch={batch_id}/{sub}" if sub else f"batch={batch_id}"


def write_batch(
    df: DataFrame, path: str, batch_id, sub: str = "",
    partition_by: Optional[str] = None,
) -> None:
    """Write one micro-batch's frame to its tail dir (:func:`batch_dir`).
    The overwrite is static whatever the session's mode (module
    docstring, *Visibility*), so a replay replaces the whole dir and
    the dir is served once its ``_SUCCESS`` marker exists."""
    _write_static(df, batch_dir(path, batch_id, sub), partition_by)


def _write_static(df: DataFrame, out: str, partition_by: Optional[str]) -> None:
    writer = df.write.mode("overwrite").option("partitionOverwriteMode", "static")
    if partition_by and partition_by in df.columns:
        writer = writer.partitionBy(partition_by)
    writer.parquet(out)


def batch_ids(path: str) -> list[int]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("batch="):
            try:
                out.append(int(n.split("=", 1)[1]))
            except ValueError:
                pass
    return sorted(out)


def live_dirs(path: str, sub: str = "") -> tuple:
    """The dirs of one manifest snapshot that hold committed data, as
    ``(name, st_ino, st_mtime_ns)`` with ``name`` relative to the
    store: the manifest's segments, then the tail ``batch=<id>`` dirs
    (``batch=<id>/<sub>`` for a sub-store) with ``id > upto`` whose
    ``_SUCCESS`` marker exists. A segment's identity is its dir's
    stat, a tail dir's is its marker's (see the visibility rule in the
    module docstring). Readers that cache per-dir results key them on
    these tuples; a missing or unwritten store has none."""
    for attempt in (0, 1):
        m = load_manifest(path) or {"upto": -1, "segments": {}}
        out = []
        try:
            for seg in m["segments"].get(sub, []):
                st = os.stat(os.path.join(path, seg))
                out.append((seg, st.st_ino, st.st_mtime_ns))
        except FileNotFoundError:
            # a newer manifest already handed this segment to gc and
            # the commit after it deleted it: re-read the manifest
            if attempt:
                raise
            continue
        for i in batch_ids(path):
            if i <= m["upto"]:
                continue
            name = _batch_rel(i, sub)
            try:
                st = os.stat(os.path.join(path, name, "_SUCCESS"))
            except FileNotFoundError:
                continue
            out.append((name, st.st_ino, st.st_mtime_ns))
        return tuple(out)


def _tail_dirs(path: str, upto: int, sub: str) -> list[str]:
    return [batch_dir(path, i, sub) for i in batch_ids(path) if i > upto]


def store_parts(
    spark, path: str, sub: str = "", use_base_path: bool = False
) -> list[DataFrame]:
    """The frames that together ARE the store's live view: one per
    committed segment plus one over the live tail. Resolves a single
    manifest snapshot and never mutates the store — safe to call
    while a writer runs (segments a new manifest drops survive one
    further compaction interval; see the module GC contract).

    With ``use_base_path`` the tail read anchors partition discovery
    at the store root so layers below ``batch=<id>`` (``dt=``)
    resolve as partition columns; the ``batch`` column itself is
    dropped — segment frames never had it."""
    m = load_manifest(path) or {"upto": -1, "segments": {}}
    segs = [os.path.join(path, seg) for seg in m["segments"].get(sub, [])]
    # ONE multi-path scan over all segments, not one relation per
    # segment: a per-segment union adds planning cost linear in
    # segment count on the append-mode store, while a single
    # FileScan over N roots plans once.
    # Segment dirs are k=v-named (``seg=<gen>``) precisely so the
    # basePath-anchored read parses them as one consistent partition
    # layer (a non-k=v root name here raises
    # CONFLICTING_DIRECTORY_STRUCTURES); the synthetic ``seg`` column
    # is dropped like the tail's ``batch``.
    parts = []
    if segs:
        reader = spark.read
        if use_base_path:
            reader = reader.option("basePath", path)
        sdf = reader.parquet(*segs)
        if use_base_path and "seg" in sdf.columns:
            sdf = sdf.drop("seg")
        parts.append(sdf)
    tail = _tail_dirs(path, m["upto"], sub)
    if tail:
        reader = spark.read
        if use_base_path:
            reader = reader.option("basePath", path)
        tdf = reader.parquet(*tail)
        if use_base_path and "batch" in tdf.columns:
            tdf = tdf.drop("batch")
        parts.append(tdf)
    return parts


def read_folded(spark, path: str, folds: dict, sub: str = "") -> DataFrame:
    """The live view of sub-store ``sub``, folded with its spec
    ``folds[sub]``: the union of :func:`store_parts` (read with
    ``basePath`` when the spec says so), then the spec's merge, the
    same one compaction applies, so any compaction point reads the
    same frame. An empty or missing store raises the missing-path
    error of a read of its ``batch=*`` glob."""
    spec = folds[sub]
    parts = store_parts(spark, path, sub, use_base_path=spec.use_base_path)
    if not parts:
        reader = spark.read
        if spec.use_base_path:
            reader = reader.option("basePath", path)
        return reader.parquet(batch_dir(path, "*", sub))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return spec.fold(out) if spec.fold else out


def write_rows_parquet(
    path: str, schema: "list[tuple[str, str]]", rows: list[tuple]
) -> None:
    """Driver-side parquet write for TINY frames the driver already
    holds (the additive stats rows: one row of exact integer sums per
    batch). A ``createDataFrame(...).write.parquet`` of one literal
    row costs a full Spark job — task launch, commit protocol,
    ~0.5 s of fixed overhead per micro-batch; writing the same bytes
    with pyarrow on the driver costs milliseconds and reads back
    identically (int64/binary parquet types are engine-neutral).

    ``schema`` is [(name, type)] with type in {"bigint", "int",
    "double", "string"}.
    The dir holds exactly one data file, ``part-00000.parquet``: it is
    staged as a hidden file beside it (Spark readers skip ``.``-names)
    and ``os.replace``-d over it, so a reader sees the previous
    attempt or this one, never a missing dir. A crashed attempt's
    staging file has the same fixed name and is overwritten by the
    replay."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_types = {"bigint": pa.int64(), "int": pa.int32(),
                "double": pa.float64(), "string": pa.string()}
    arrays = [
        pa.array([r[i] for r in rows], type=pa_types[t])
        for i, (_n, t) in enumerate(schema)
    ]
    table = pa.table(dict(zip((n for n, _t in schema), arrays)))
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, ".part-00000.parquet.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, "part-00000.parquet"))


def run_concurrent(spark, thunks: list) -> list:
    """Run independent Spark-job-submitting thunks as CONCURRENT jobs
    (guide §2.6 — actions are only sequential because driver code
    calls them sequentially). Each worker is wrapped in
    ``pyspark.inheritable_thread_target(spark)`` so it inherits the
    calling thread's session tags and JVM-thread-local properties (job
    group / description / scheduler pool) under pinned-thread mode —
    cancelling the caller's job group or tag therefore cancels jobs
    submitted from these threads too, and UI labels stay attached.
    Returns results in submission order; the first raised exception
    propagates."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futures]


def _write_segment(path: str, rel: str, df: DataFrame, spec: SubFold) -> None:
    """Write one segment dir applying the spec's layout contracts:
    ``range_by`` re-clusters (range partition + in-file sort, so
    min/max row-group stats keep pruning), ``partition_by``
    co-locates each value before ``partitionBy`` (writing straight
    off a many-task plan emits n_tasks × n_values tiny files). The
    overwrite is static whatever the session's mode (module
    docstring, *Visibility*)."""
    if spec.range_by and spec.range_by in df.columns:
        df = df.repartitionByRange(
            spec.range_by
        ).sortWithinPartitions(spec.range_by)
    if spec.partition_by and spec.partition_by in df.columns:
        df = df.repartition(spec.partition_by)
    _write_static(df, os.path.join(path, rel), spec.partition_by)


def compact_additive(
    spark,
    path: str,
    batch_id: int,
    folds: dict[str, SubFold],
    compact_every: int = COMPACT_EVERY,
) -> bool:
    """Fold the committed tail (ids strictly below ``batch_id``) into
    the segment set once it reaches ``compact_every`` directories.
    Called from inside a sink's ``write(batch_df, batch_id)`` AFTER
    the batch directory lands, so everything it folds is committed
    and the in-flight batch keeps its replay-overwrite contract.

    Returns True when a compaction ran. Crash-safe around the single
    manifest publish (see the module protocol); replay-idempotent (a
    re-run sees ``upto`` already advanced and no-ops)."""
    m = load_manifest(path) or {
        "gen": -1, "upto": -1, "segments": {}, "gc": []
    }
    ids = [i for i in batch_ids(path) if m["upto"] < i < batch_id]
    if len(ids) < compact_every:
        return False
    gen = m["gen"] + 1
    seg_root = f"seg={gen}"
    # also clears a crashed earlier attempt at this generation
    _reclaim(path, m)

    def _fold_sub(sub: str, spec: SubFold) -> tuple[str, list[str], list[str]]:
        """Fold ONE sub-store; returns (sub, its segment list, its gc
        entries). Sub-stores touch disjoint directories, so the folds
        are independent jobs — run concurrently below (guide §2.6),
        with the manifest publish staying the single commit point."""
        out_rel = f"{seg_root}/{sub}" if sub else seg_root
        reader = spark.read
        if spec.use_base_path:
            reader = reader.option("basePath", path)
        # fold ONLY the committed ids — the in-flight batch (== the
        # max id) stays in the tail where its replay can overwrite
        tail_df = reader.parquet(*[batch_dir(path, i, sub) for i in ids])
        if spec.use_base_path and "batch" in tail_df.columns:
            tail_df = tail_df.drop("batch")
        prior = m["segments"].get(sub, [])
        if spec.fold is None:
            # append mode: consolidate only the tail into a new
            # segment; prior segments stay immutable this step
            _write_segment(path, out_rel, tail_df, spec)
            segs = prior + [out_rel]
            if len(segs) >= TIER_FANOUT:
                # size-tiered merge (LSM leveling): fold the smallest
                # ``fanout`` segments into one, so the segment count
                # is bounded ~O(fanout · log data) instead of one-
                # per-generation forever, and each row is rewritten
                # only O(log_fanout data) times over the store's
                # lifetime. Identity stores hold disjoint rows, so
                # the merge is pure concatenation — answers cannot
                # change, only layout.
                sizes = sorted(
                    (_dir_bytes(os.path.join(path, s)), s) for s in segs
                )
                merge = [s for _, s in sizes[:TIER_FANOUT]]
                keep = [s for _, s in sizes[TIER_FANOUT:]]
                m_rel = (
                    f"{seg_root}-m/{sub}" if sub else f"{seg_root}-m"
                )
                mreader = spark.read
                if spec.use_base_path:
                    mreader = mreader.option("basePath", path)
                mdf = mreader.parquet(
                    *[os.path.join(path, s) for s in merge]
                )
                if spec.use_base_path:
                    for c in ("batch", "seg"):
                        if c in mdf.columns:
                            mdf = mdf.drop(c)
                _write_segment(path, m_rel, mdf, spec)
                return sub, keep + [m_rel], merge
            return sub, segs, []
        merged = tail_df
        if prior:
            # a prior segment holds the fold's output: read it with that
            # schema (analysis only), not with a schema-inference job
            seg_reader = spark.read.schema(spec.fold(tail_df).schema)
            for s in prior:
                merged = merged.unionByName(
                    seg_reader.parquet(os.path.join(path, s))
                )
        _write_segment(path, out_rel, spec.fold(merged), spec)
        return sub, [out_rel], list(prior)

    new_segments: dict[str, list[str]] = {}
    next_gc: list[str] = []
    results = run_concurrent(
        spark,
        [
            (lambda sub=sub, spec=spec: _fold_sub(sub, spec))
            for sub, spec in folds.items()
        ],
    )
    for sub, segs, gc in results:
        new_segments[sub] = segs
        next_gc.extend(gc)
    next_gc.extend(_batch_rel(i) for i in ids)
    _publish_manifest(
        path,
        {
            "gen": gen,
            "upto": batch_id - 1,
            "segments": new_segments,
            "gc": next_gc,
        },
    )
    return True
