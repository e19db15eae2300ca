"""Data-shape robustness for the driver tables: every temporal column
must read correctly whatever parquet timestamp encoding the driver's
regeneration picked — TIMESTAMP(NANOS), plain timestamp[us] →
TIMESTAMP_NTZ under Spark 4, or native TIMESTAMP — via ``sources.files.read_table``'s schema dispatch.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from sparkstreaming_realtime_spark.sources.files import TEMPORAL_COLS, read_table

TS = datetime.datetime(2024, 3, 5, 14, 30, 15, 123456)


def _write(tmp_path, table, col, unit):
    arr = pa.array([TS], type=pa.timestamp(unit))
    pq.write_table(
        pa.table({col: arr, "other": pa.array([1], type=pa.int64())}),
        str(tmp_path / f"{table}.parquet"),
    )


PAIRS = [(t, c) for t, cols in sorted(TEMPORAL_COLS.items()) for c in cols]


@pytest.mark.parametrize("unit", ["ns", "us"])
@pytest.mark.parametrize("table,col", PAIRS)
def test_temporal_encodings_normalize(spark, tmp_path, table, col, unit):
    _write(tmp_path, table, col, unit)
    df = read_table(spark, str(tmp_path), table)
    dt = df.schema[col].dataType
    if table == "events":
        # unix_millis & co. need TIMESTAMP, never NTZ/bigint
        assert isinstance(dt, T.TimestampType), dt
    else:
        # date-valued cols: any proper timestamp type, never bigint
        assert isinstance(dt, (T.TimestampType, T.TimestampNTZType)), dt
    # value preserved to micros under every encoding. Format
    # Spark-side (session tz is UTC) instead of comparing collected
    # datetimes: TimestampType.fromInternal renders in the host OS
    # timezone, which would couple this assertion to the machine's TZ
    # — the exact environment class this file guards against.
    from pyspark.sql import functions as F

    (row,) = df.select(
        F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s")
    ).collect()
    assert row["s"] == TS.strftime("%Y-%m-%d %H:%M:%S.%f")


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_normalize_pins_utc_under_non_utc_session(spark, tmp_path, unit):
    """The UTC session-tz pin must fire for EVERY to_ltz
    shape — the nanos-as-long branch included (streaming callers reach
    _normalize_temporal via events_with_ts without read_table's pin).
    Under a non-UTC session tz, date_format over the normalized column
    must still render the UTC wall time, not a shifted one."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.sources.files import events_with_ts

    _write(tmp_path, "events", "ts", unit)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        raw = spark.read.parquet(str(tmp_path / "events.parquet"))
        df = events_with_ts(raw)
        # the normalization itself must have re-pinned UTC
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        (row,) = df.select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s")
        ).collect()
        assert row["s"] == TS.strftime("%Y-%m-%d %H:%M:%S.%f")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_real_tables_read_with_temporal_types(spark, sf_dir):
    for table, cols in TEMPORAL_COLS.items():
        df = read_table(spark, sf_dir, table)
        for col in cols:
            dt = df.schema[col].dataType
            assert isinstance(
                dt, (T.TimestampType, T.TimestampNTZType)
            ), f"{table}.{col} read as {dt}"


def test_jsonl_roundtrip_and_corrupt_routing(spark, tmp_path):
    """JSONL interchange: explicit-schema read (no inference pass),
    corrupt lines quarantined not fatal, deterministic shard count,
    gzip transparent, values preserved through the round-trip."""
    import glob
    import os

    from sparkstreaming_realtime_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )

    src = tmp_path / "in"
    os.makedirs(src)
    with open(src / "part0.jsonl", "w") as f:
        f.write('{"doc_id": 1, "text": "hello", "lang": "en", '
                '"source": "web", "n_chars": 5}\n')
        f.write('{"doc_id": 2, "text": "welt", "lang": "de", '
                '"source": "web", "n_chars": 4}\n')
        f.write('this line is not json\n')

    df = read_jsonl(spark, str(src))
    good, bad = split_corrupt(df)
    assert bad.count() == 1
    rows = {r["doc_id"]: r["text"] for r in good.collect()}
    assert rows == {1: "hello", 2: "welt"}

    out = str(tmp_path / "out")
    write_jsonl(good, out, n_shards=2)
    shards = sorted(glob.glob(f"{out}/shard=*"))
    # 2 docs over 2 shards: membership is hash-derived, so both may
    # land in one shard — the spread contract is pinned with 200 docs
    # in the determinism test below
    assert 1 <= len(shards) <= 2
    assert all(glob.glob(f"{d}/part-*.json.gz") for d in shards)
    back = read_jsonl(spark, f"{out}/shard=*/")
    gb, bb = split_corrupt(back)
    assert bb.count() == 0
    assert {r["doc_id"]: r["text"] for r in gb.collect()} == rows


def test_jsonl_write_sharding_is_deterministic(spark, tmp_path):
    """Same data → same shard membership across re-exports (the
    write_training_shards contract in the interchange format)."""
    from sparkstreaming_realtime_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt,
        write_jsonl,
    )

    df = spark.range(0, 200).selectExpr(
        "id AS doc_id", "concat('t', id) AS text",
        "'en' AS lang", "'s' AS source", "2 AS n_chars",
    )
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_jsonl(df, a, n_shards=4, compression=None)
    write_jsonl(df, b, n_shards=4, compression=None)
    import glob as _glob

    # 200 docs over 4 hash shards: every shard directory exists and
    # holds a reasonable share (no double-hash collapse)
    dirs = sorted(_glob.glob(f"{a}/shard=*"))
    assert len(dirs) == 4

    def shard_sets(path):
        import glob

        out = []
        for d in sorted(glob.glob(f"{path}/shard=*")):
            g, _ = split_corrupt(read_jsonl(spark, d))
            out.append(frozenset(r["doc_id"] for r in g.collect()))
        return set(out)

    assert shard_sets(a) == shard_sets(b)
