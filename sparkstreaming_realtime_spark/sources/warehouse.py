"""Warehouse table layout: dt-partitioned parquet, the engine's
replacement for the reference's per-day Elasticsearch indexes
(``gmall_day_info_<date>``, DwdDauApp.scala:177;
``gmall_order_wide_<date>``, DwdOrderApp.scala:248).

The reference picks an index per day by string-building the index
name; here the day is a partition column, which buys:

- **partition pruning**: ``WHERE dt = '...'`` never touches other
  days' files (the per-day index selection, done by the planner);
- **idempotent day rewrites**: dynamic partition overwrite replaces
  exactly the days present in the batch — the doc-id-overwrite
  semantics at day granularity;
- **retention**: dropping a day is deleting a directory.

At 100 TB each dt partition should hold files sized near the scan
split (128 MB–1 GB); callers control that with ``target_files`` —
a plain repartition on the partition key plus a within-day salt so
one hot day still writes in parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_warehouse(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = ("dt",),
    mode: str = "overwrite",
    target_files: int | None = None,
) -> None:
    """Write a dt-partitioned warehouse table. With
    ``partitionOverwriteMode=dynamic``, ``overwrite`` replaces only
    the partitions present in ``df`` — an idempotent per-day rewrite,
    not a table wipe. The mode is a write option, not a session conf:
    the streaming stores' partitioned writes rely on the static mode
    (a replay deletes the whole ``batch=<id>`` dir, and the write ends
    with a ``_SUCCESS`` marker that dynamic mode does not write)."""
    if target_files is not None:
        # explicit numPartitions: AQE coalescing respects user-pinned
        # counts, so a hot day really does split into ~target_files
        salt = (F.rand(seed=0) * target_files).cast("int")
        df = df.repartition(
            target_files, *[F.col(c) for c in partition_by], salt
        )
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_warehouse(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def partition_values(spark: SparkSession, path: str, col: str) -> list[str]:
    """Distinct values of a top-level partition column, read from the
    partition DIRECTORY NAMES (``col=value``) via the Hadoop
    FileSystem API — pure FileStatus metadata, zero data scan. This is
    how "which days exist?" must be answered at 100 TB: listing a few
    hundred directory entries instead of scanning the table (or worse,
    re-scanning the source that produced it). Works on any Hadoop FS
    (local, HDFS, S3A) since it goes through Path.getFileSystem."""
    jvm = spark._jvm
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = f"{col}="
    return [
        name[len(prefix):]
        for st in fs.listStatus(hadoop_path)
        if (name := st.getPath().getName()).startswith(prefix)
    ]


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_by: tuple[str, ...],
    n_buckets: int = 8,
    sort_by: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a hash-bucketed (and optionally sort-ordered) table.

    The 100 TB join strategy for tables joined repeatedly on the same
    key (orders⋈lineitem on orderkey every day): both sides bucketed
    on the join key with the same bucket count are ALREADY co-located,
    so the join plans with zero Exchange — the shuffle is paid once at
    write time, then amortized over every subsequent join. With
    ``sort_by`` the per-bucket files are sort-ordered and the
    SortMergeJoin's sort drops too.

    Registered as an external table (explicit ``path``) in the session
    catalog — bucketing metadata lives in the catalog, which is why
    this is ``saveAsTable`` and not a bare ``.parquet(path)``."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.option("path", path).saveAsTable(table)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, ...],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-cluster a table on ``cluster_by`` so parquet min/max
    statistics actually skip data.

    ``repartitionByRange`` gives each output file a DISJOINT value
    range of the cluster key and ``sortWithinPartitions`` orders rows
    inside, so every file footer (and row group) carries a tight
    min/max for the key: a point or range predicate prunes all but
    the overlapping files at read time — the poor man's clustering
    index, and at 100 TB the difference between scanning one file and
    scanning all of them for a selective key lookup. (Partitioning by
    the key instead would create one directory per value — wrong for
    high-cardinality keys; clustering keeps file counts fixed.)

    The range exchange samples the key distribution, so file sizes
    stay balanced under skew. Statistics honesty is pinned by
    tests/test_warehouse.py: clustered files' [min, max] spans are
    pairwise disjoint while a hash-shuffled write's spans all overlap
    the full range."""
    (
        df.repartitionByRange(n_files, *[F.col(c) for c in cluster_by])
        .sortWithinPartitions(*[F.col(c) for c in cluster_by])
        .write.mode(mode)
        .parquet(path)
    )


def _rename_or_raise(fs, src, dst) -> None:
    """Hadoop ``FileSystem.rename`` signals failure with a ``False``
    RETURN, not an exception (unlike os.rename) — a silently failed
    swap rename would let the compaction proceed into its cleanup
    steps from an unswapped state. Every swap rename goes through
    this wrapper: a failed rename raises."""
    if not fs.rename(src, dst):
        raise IOError(f"rename failed: {src} -> {dst}")


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str = "dt",
    target_bytes: int = 128 * 1024 * 1024,
    min_files: int = 2,
    max_workers: int = 8,
) -> dict[str, tuple[int, int]]:
    """Small-file compaction — the maintenance job every streaming
    warehouse needs: micro-batch sinks write a few files per trigger,
    and after a day a hot partition holds thousands of KB-sized files
    whose open/footer costs dominate scans at 100 TB.

    Per partition directory (pure FileStatus metadata — no data scan
    to decide): if it holds ≥ ``min_files`` files AND more than
    ⌈bytes/target_bytes⌉ of them, rewrite it to that file count in a
    STAGED directory, then swap directories with the rename-aside
    protocol (write ``.next``; old dir → ``.old``; ``.next`` into
    place; drop ``.old``) — never an in-place overwrite of a path
    being read, and every crash point leaves a complete file set for
    the day on disk, so a crashed compaction simply reruns.
    Untouched partitions are never rewritten (compaction must not
    churn cold data). Hot-partition rewrites are submitted from a
    small driver thread pool (the Spark scheduler is thread-safe), so
    a day with hundreds of hot partitions runs in the wall-clock of
    its LARGEST rewrite, not the partition count. Returns
    ``{partition_value: (files_before, files_after)}`` for the
    partitions it rewrote."""
    from concurrent.futures import ThreadPoolExecutor

    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    prefix = f"{partition_col}="

    def _parquet_files(p):
        return [
            f
            for f in fs.listStatus(p)
            if f.getPath().getName().endswith(".parquet")
        ]

    # Crash recovery FIRST, from the aside dirs themselves: a run
    # that died between rename(partition → .old) and
    # rename(.next → partition) left NO visible partition dir, so a
    # loop over visible `dt=` names can never see the casualty — the
    # hidden `.dt=X.old` entry is the only evidence. Rename it back
    # when its visible dir is missing; when the visible dir exists
    # the swap completed and the aside is stale — drop it.
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (name.startswith("." + prefix) and name.endswith(".old")):
            continue
        visible = Path(root, name[1:-len(".old")])
        if not fs.exists(visible):
            _rename_or_raise(fs, st.getPath(), visible)
        else:
            fs.delete(st.getPath(), True)

    todo: list[tuple[str, object, int, int]] = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith(prefix):
            continue
        files = _parquet_files(st.getPath())
        total = sum(f.getLen() for f in files)
        want = max(1, -(-total // target_bytes))  # ceil
        if len(files) < min_files or len(files) <= want:
            continue
        todo.append((name, st.getPath(), want, len(files)))

    def _rewrite(job):
        # staging/aside names are dot-prefixed: Spark's file index
        # ignores hidden dirs, so readers never parse them as
        # partition values mid-swap (or after a crash)
        name, p, want, n_before = job
        part = spark.read.parquet(str(p))
        nxt = Path(root, "." + name + ".next")
        old_dir = Path(root, "." + name + ".old")
        part.repartition(want).write.mode("overwrite").parquet(str(nxt))
        _rename_or_raise(fs, p, old_dir)
        _rename_or_raise(fs, nxt, p)
        fs.delete(old_dir, True)
        return name[len(prefix):], (n_before, len(_parquet_files(p)))

    if not todo:
        return {}
    with ThreadPoolExecutor(max_workers=min(max_workers, len(todo))) as ex:
        return dict(ex.map(_rewrite, todo))


#: z-order resolution: bits per dimension. 16 bits ⇒ 65k distinct
#: cells per dim — far finer than any realistic file count, so the
#: interleave never quantizes two distant values into one cell.
ZORDER_BITS = 16


def zorder_key(
    cols: tuple[str, ...],
    mins: dict[str, float],
    maxs: dict[str, float],
    bits: int = ZORDER_BITS,
):
    """Bit-interleaved (Morton) sort key over ``cols``.

    Each column min/max-normalizes to an unsigned ``bits``-bit int,
    then the ints interleave bit-by-bit — so sorting by the key keeps
    rows close in EVERY dimension close in the file order, giving
    every file a tight min/max on every clustered column at once
    (lexicographic multi-column clustering only tightens the first).
    Pure codegen arithmetic (shift/and/or terms, ``bits × n_cols`` of
    them) — no UDF, no shuffle beyond the range exchange that
    consumes the key."""
    top = (1 << bits) - 1
    normed = []
    for c in cols:
        mn, mx = float(mins[c]), float(maxs[c])
        spread = (mx - mn) or 1.0
        n = F.floor((F.col(c).cast("double") - mn) / spread * top)
        normed.append(
            F.least(F.lit(top), F.greatest(F.lit(0), n)).cast("bigint")
        )
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, n in enumerate(normed):
            bit = F.shiftright(n, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + i))
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cluster_by: tuple[str, ...],
    n_files: int = 8,
    bits: int = ZORDER_BITS,
    mode: str = "overwrite",
) -> None:
    """Z-order-cluster a table on ``cluster_by`` so parquet min/max
    statistics skip data on EVERY clustered column, not just the
    first — the multi-dimensional upgrade of :func:`write_clustered`
    for tables queried by more than one selective predicate (the
    point-lookup-by-user AND range-scan-by-time shape).

    Cost model: one column-pruned min/max scan to calibrate the
    normalization, then the same single range exchange + in-file sort
    as the 1-D layout — a one-time layout job amortized over every
    subsequent multi-dimension read, exactly how table formats
    implement OPTIMIZE ... ZORDER BY. Stats tightness on the second
    dimension (what lexicographic clustering cannot give) is pinned
    by tests/test_warehouse.py."""
    aggs = []
    for c in cluster_by:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__mn_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__mx_{c}"))
    row = df.agg(*aggs).collect()[0]
    mins = {c: row[f"__mn_{c}"] for c in cluster_by}
    maxs = {c: row[f"__mx_{c}"] for c in cluster_by}
    z = zorder_key(cluster_by, mins, maxs, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .select(*df.columns)
        .write.mode(mode)
        .parquet(path)
    )


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution-tolerant warehouse read: ``mergeSchema``
    unions the per-file parquet schemas, so partitions written BEFORE
    a column existed read as NULL for it — the drift-tolerance every
    long-lived ingest pipeline needs when the producer adds a field
    mid-stream (the default read would silently serve whichever
    footer the scan sampled first). Costs one footer read per file at
    planning time; data-file bytes are untouched, and column pruning
    / predicate pushdown work unchanged on the merged schema."""
    return spark.read.option("mergeSchema", "true").parquet(path)
