"""Warehouse layout tests: dt partitioning, partition pruning, and
dynamic-partition-overwrite idempotency (the per-day ES index
semantics, SURVEY §1.1 item 4)."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from sparkstreaming_realtime_spark.sources.warehouse import (
    read_warehouse,
    write_warehouse,
)


def _dau(spark, rows):
    return spark.createDataFrame(rows, "dt string, mid string, ct int")


def test_partition_pruning_skips_other_days(spark, tmp_path):
    path = str(tmp_path / "dau")
    write_warehouse(
        _dau(spark, [("2024-01-01", "m1", 1), ("2024-01-02", "m2", 2),
                     ("2024-01-03", "m3", 3)]),
        path,
    )
    df = read_warehouse(spark, path).filter(F.col("dt") == "2024-01-02")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the day filter must be a partition filter on the scan, not a
    # post-scan Filter over all days
    assert "PartitionFilters" in plan
    assert "2024-01-02" in plan
    assert [r["mid"] for r in df.collect()] == ["m2"]


def test_partition_values_lists_days_without_scanning(spark, tmp_path):
    """partition_values answers "which days exist?" from the partition
    DIRECTORY names — the metadata-only day lookup, so
    dau_warehouse_day_slice does not scan events a second time."""
    from sparkstreaming_realtime_spark.sources.warehouse import (
        partition_values,
    )

    path = str(tmp_path / "dau")
    write_warehouse(
        _dau(spark, [("2024-01-01", "m1", 1), ("2024-01-02", "m2", 2),
                     ("2024-01-03", "m3", 3)]),
        path,
    )
    vals = partition_values(spark, path, "dt")
    assert sorted(vals) == ["2024-01-01", "2024-01-02", "2024-01-03"]
    assert max(vals) == "2024-01-03"  # the day-slice's served day
    # a non-partition column name finds no matching directories
    assert partition_values(spark, path, "mid") == []


def test_dynamic_overwrite_replaces_only_present_days(spark, tmp_path):
    path = str(tmp_path / "dau")
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    write_warehouse(
        _dau(spark, [("2024-01-01", "m1", 1), ("2024-01-02", "m2", 2)]), path
    )
    # rewrite day 2 only (the replayed-day case); day 1 must survive
    write_warehouse(_dau(spark, [("2024-01-02", "m2b", 9)]), path)
    got = sorted(
        (str(r["dt"]), r["mid"]) for r in read_warehouse(spark, path).collect()
    )
    assert got == [("2024-01-01", "m1"), ("2024-01-02", "m2b")]
    # the dynamic mode is per write: later writes in the session (the
    # streaming stores') keep the session's mode
    assert spark.conf.get(key) == mode


def test_target_files_spreads_a_hot_day(spark, tmp_path):
    path = str(tmp_path / "dau")
    rows = [("2024-01-01", f"m{i}", i) for i in range(1000)]
    write_warehouse(_dau(spark, rows), path, target_files=4)
    day_dir = os.path.join(path, "dt=2024-01-01")
    n_files = len([f for f in os.listdir(day_dir) if f.endswith(".parquet")])
    assert n_files >= 2  # the salt split one hot day across files
    assert read_warehouse(spark, path).count() == 1000


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from sparkstreaming_realtime_spark.sources.warehouse import write_bucketed

    o = spark.range(0, 1000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 7).alias("o_flag")
    )
    l = spark.range(0, 3000).select(
        (F.col("id") % 1000).alias("l_orderkey"), F.col("id").alias("l_qty")
    )
    write_bucketed(o, "t_orders_b", str(tmp_path / "o"), ("o_orderkey",), 4,
                   sort_by=("o_orderkey",))
    write_bucketed(l, "t_lineitem_b", str(tmp_path / "l"), ("l_orderkey",), 4,
                   sort_by=("l_orderkey",))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ob = spark.table("t_orders_b")
        lb = spark.table("t_lineitem_b")
        j = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        # both sides pre-bucketed on the join key: no shuffle at all
        assert "Exchange" not in plan
        assert j.count() == 3000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_clustered_write_produces_disjoint_file_stats(spark, tmp_path):
    """write_clustered's data-skipping contract: each parquet file
    carries a tight, pairwise-disjoint [min, max] of the cluster key
    (so a point predicate prunes to one file), while a hash-shuffled
    write leaves every file spanning ~the full key range (nothing
    prunes)."""
    import pyarrow.parquet as pq

    from sparkstreaming_realtime_spark.sources.warehouse import (
        write_clustered,
    )

    df = spark.range(0, 10_000).selectExpr(
        "id AS user_id", "id % 97 AS v"
    )
    clustered = str(tmp_path / "clustered")
    write_clustered(df, clustered, cluster_by=("user_id",), n_files=4)
    shuffled = str(tmp_path / "shuffled")
    df.repartition(4).write.parquet(shuffled)

    def spans(path):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            lo = min(
                md.row_group(i).column(0).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(0).statistics.max
                for i in range(md.num_row_groups)
            )
            out.append((lo, hi))
        return sorted(out)

    cl = spans(clustered)
    assert len(cl) == 4
    # disjoint, ordered ranges — a point lookup touches exactly one
    for (_, hi_prev), (lo_next, _) in zip(cl, cl[1:]):
        assert hi_prev < lo_next
    # the hash-shuffled layout cannot skip: every file spans ~everything
    sh = spans(shuffled)
    assert all(hi - lo > 9_000 for lo, hi in sh)
    # and the clustered table still reads back complete + correct
    assert spark.read.parquet(clustered).count() == 10_000


def test_clustered_point_lookup_is_nonvacuous_at_smoke_sf(spark, sf_dir):
    """The registry's clustered point lookup must return rows at the
    smallest test SF: a fixed key literal made the oracle parity pass
    on 0 == 0 rows (vacuous), so the key is now derived from
    min(user_id), which exists at every SF by construction."""
    from sparkstreaming_realtime_spark.plans import REGISTRY

    out = REGISTRY["clustered_point_lookup"].fn(spark, sf_dir)
    assert out.count() > 0


def test_zordered_write_tightens_stats_on_both_dims(spark, tmp_path):
    """write_zordered's contract: file min/max spans are a fraction
    of the global range on EVERY clustered dimension, where
    lexicographic clustering tightens only the first (the second
    dim's span is ~full range in every file). Grid data (x, y
    independent) makes the contrast exact."""
    import pyarrow.parquet as pq

    from sparkstreaming_realtime_spark.sources.warehouse import (
        write_clustered,
        write_zordered,
    )

    df = spark.range(0, 16_384).selectExpr(
        "CAST(id % 128 AS BIGINT) AS x", "CAST(id DIV 128 AS BIGINT) AS y"
    )
    zpath = str(tmp_path / "zord")
    write_zordered(df, zpath, cluster_by=("x", "y"), n_files=16)
    lexpath = str(tmp_path / "lex")
    write_clustered(df, lexpath, cluster_by=("x", "y"), n_files=16)

    def spans(path, col_idx):
        out = []
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            lo = min(md.row_group(i).column(col_idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(col_idx).statistics.max
                     for i in range(md.num_row_groups))
            out.append(hi - lo)
        return out

    # z-order: BOTH dims' average per-file span well under the global
    # 127 range (16 files over a 128x128 grid → ~32x32 tiles)
    zx, zy = spans(zpath, 0), spans(zpath, 1)
    assert sum(zx) / len(zx) <= 64 and sum(zy) / len(zy) <= 64
    # lexicographic on (x, y): x tightens, y spans ~everything
    ly = spans(lexpath, 1)
    assert sum(ly) / len(ly) > 100
    # layout changes bytes, not rows
    assert spark.read.parquet(zpath).count() == 16_384


def test_compact_partitions_binpacks_hot_days_only(spark, tmp_path):
    """Compaction contract: a partition fragmented by micro-batch
    writes rewrites down to the byte-target file count; an
    already-compact partition is NOT churned; rows and values are
    unchanged; and the staged/aside dirs are gone afterwards."""
    import os

    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.sources.warehouse import (
        compact_partitions,
    )

    path = str(tmp_path / "wh")
    hot = spark.range(0, 5000).select(
        F.lit("2024-01-01").alias("dt"), F.col("id")
    )
    # 20 tiny files for the hot day (a day of micro-batches)
    hot.repartition(20).write.partitionBy("dt").parquet(path)
    cold = spark.range(5000, 5100).select(
        F.lit("2024-01-02").alias("dt"), F.col("id")
    )
    cold.coalesce(1).write.mode("append").partitionBy("dt").parquet(path)

    before = sorted(
        r["id"] for r in spark.read.parquet(path).collect()
    )
    done = compact_partitions(
        spark, path, target_bytes=50 * 1024 * 1024
    )
    assert set(done) == {"2024-01-01"}
    b, a = done["2024-01-01"]
    assert b == 20 and a == 1
    after = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert after == before
    leftovers = [d for d in os.listdir(path) if ".next" in d or ".old" in d]
    assert leftovers == []
    # idempotent: a second run finds nothing to do
    assert compact_partitions(spark, path, target_bytes=50 * 1024 * 1024) == {}


def test_compact_survives_crash_between_renames(spark, tmp_path):
    """The rename-aside protocol's worst crash window: the run died
    AFTER rename(partition → .old) but BEFORE rename(.next →
    partition) — the visible partition dir is gone, only the hidden
    aside holds the day's data. The recovery pre-scan (which iterates
    asides, not visible names — a visible-name loop can never see
    this state) must restore the partition before deciding work, so a
    rerun both heals and compacts. The post-swap window (stale .old
    beside a swapped-in partition) must be cleaned without data
    loss."""
    import os

    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.sources.warehouse import (
        compact_partitions,
    )

    path = str(tmp_path / "wh")
    day = spark.range(0, 4000).select(
        F.lit("2024-01-01").alias("dt"), F.col("id")
    )
    day.repartition(16).write.partitionBy("dt").parquet(path)
    before = sorted(r["id"] for r in spark.read.parquet(path).collect())

    # simulate the mid-swap crash: .next staged, partition renamed
    # aside, swap-in never happened
    spark.read.parquet(f"{path}/dt=2024-01-01").repartition(1).write.parquet(
        f"{path}/.dt=2024-01-01.next"
    )
    os.rename(f"{path}/dt=2024-01-01", f"{path}/.dt=2024-01-01.old")
    assert not os.path.exists(f"{path}/dt=2024-01-01")

    done = compact_partitions(spark, path, target_bytes=50 * 1024 * 1024)
    assert set(done) == {"2024-01-01"}
    after = sorted(r["id"] for r in spark.read.parquet(path).collect())
    assert after == before
    assert not any(
        ".next" in d or ".old" in d for d in os.listdir(path)
    )

    # post-swap crash window: stale .old beside the live partition
    os.makedirs(f"{path}/.dt=2024-01-01.old")
    done2 = compact_partitions(spark, path, target_bytes=50 * 1024 * 1024)
    assert done2 == {}  # already compact — not churned
    assert not os.path.exists(f"{path}/.dt=2024-01-01.old")
    assert sorted(
        r["id"] for r in spark.read.parquet(path).collect()
    ) == before


def test_read_evolved_serves_pre_migration_rows_as_null(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.sources.warehouse import (
        read_evolved,
    )

    path = str(tmp_path / "evolved")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, v long"
    ).write.parquet(path + "/era=v1")
    spark.createDataFrame(
        [(3, 30, "x"), (4, 40, "y")], "id long, v long, tag string"
    ).write.parquet(path + "/era=v2")
    got = {
        r.id: (r.v, r.tag)
        for r in read_evolved(spark, path).select("id", "v", "tag").collect()
    }
    assert got == {1: (10, None), 2: (20, None), 3: (30, "x"), 4: (40, "y")}
    # the merged schema still prunes and pushes down on shared columns
    plan = (
        read_evolved(spark, path)
        .filter(F.col("id") == 3)
        .select("v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,3)]" in plan
