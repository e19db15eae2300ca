"""store.write_rows_parquet: the driver-side literal write the
additive sinks use for their one-row stats frames must read back
through Spark exactly like the createDataFrame(...).write it replaced
— same column names, same bigint types, same values — and must stay
replay-idempotent (a second write of the same dir fully replaces the
first)."""

import os

import pytest

from sparkstreaming_realtime_spark.streaming.store import (
    write_rows_parquet,
)


def test_reads_back_as_bigint_rows(spark, tmp_path):
    p = os.path.join(str(tmp_path), "stats")
    write_rows_parquet(
        p, [("n_docs", "bigint"), ("sum_dl", "bigint")], [(7, 123456)]
    )
    df = spark.read.parquet(p)
    assert df.schema.simpleString() == "struct<n_docs:bigint,sum_dl:bigint>"
    assert [tuple(r) for r in df.collect()] == [(7, 123456)]


def test_overwrite_replaces_previous_attempt(spark, tmp_path):
    p = os.path.join(str(tmp_path), "stats")
    write_rows_parquet(p, [("n", "bigint")], [(1,)])
    write_rows_parquet(p, [("n", "bigint")], [(2,)])
    assert [r["n"] for r in spark.read.parquet(p).collect()] == [2]


def test_unions_with_spark_written_parquet(spark, tmp_path):
    """The stats sub-store mixes batches written by either path (old
    stores upgraded in place) — the union must fold cleanly."""
    a = os.path.join(str(tmp_path), "batch=0")
    b = os.path.join(str(tmp_path), "batch=1")
    spark.createDataFrame([(3, 30)], "n_docs bigint, sum_dl bigint").write.parquet(a)
    write_rows_parquet(b, [("n_docs", "bigint"), ("sum_dl", "bigint")], [(4, 40)])
    df = spark.read.parquet(a, b)
    got = {(r["n_docs"], r["sum_dl"]) for r in df.collect()}
    assert got == {(3, 30), (4, 40)}


def test_crash_between_staging_and_publish_then_rewrite(tmp_path, monkeypatch):
    """The one data file is published by ``os.replace`` over a fixed
    name: a crash after staging leaves the previous file readable, and
    the rewrite leaves exactly one data file and no staging leftover —
    also under a path holding glob metacharacters."""
    import pyarrow.parquet as pq

    from sparkstreaming_realtime_spark.streaming import store as st

    p = os.path.join(str(tmp_path), "st[x]", "batch=0", "stats")
    write_rows_parquet(p, [("n", "bigint")], [(1,)])

    class _CrashingOs:
        def __getattr__(self, name):
            return getattr(os, name)

        def replace(self, *_a):
            raise RuntimeError("crash before publish")

    monkeypatch.setattr(st, "os", _CrashingOs())
    with pytest.raises(RuntimeError, match="crash before publish"):
        write_rows_parquet(p, [("n", "bigint")], [(2,)])
    monkeypatch.undo()
    assert len(os.listdir(p)) == 2  # the staged file was left behind
    data = os.path.join(p, "part-00000.parquet")
    assert pq.read_table(data).to_pydict() == {"n": [1]}
    write_rows_parquet(p, [("n", "bigint")], [(3,)])
    assert os.listdir(p) == ["part-00000.parquet"]
    assert pq.read_table(data).to_pydict() == {"n": [3]}
