"""Batch file sources.

The reference's only batch "source" is Redis point reads; its stream
sources are Kafka (SURVEY §2.1). The engine's warehouse is parquet,
so this module owns the data-shape quirks of the driver tables —
chiefly that every temporal column's parquet encoding is a moving
target across driver regenerations (``TIMESTAMP(NANOS)``, or
plain ``timestamp[us]`` → ``TIMESTAMP_NTZ`` under Spark 4). All reads
go through :func:`read_table`, which dispatches on the ACTUAL schema
per column (see :func:`_normalize_temporal`) instead of assuming any
encoding; nanos floor to micros — exactly what DuckDB's
micro-resolution TIMESTAMP does, so oracles agree either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


#: temporal columns per driver table — every one has shipped (or could
#: ship, across driver regenerations) as TIMESTAMP(NANOS),
#: timestamp[us] (→ TIMESTAMP_NTZ in Spark 4), or native TIMESTAMP.
TEMPORAL_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in TEMPORAL_COLS:
        # The driver regenerates these tables between rounds with
        # varying parquet timestamp encodings (TIMESTAMP(NANOS), or
        # plain timestamp[us] → TIMESTAMP_NTZ). Callers may hand
        # us an arbitrary session (the driver harness does), so set
        # both confs defensively here, not only in session.get_spark():
        # nanosAsLong makes NANOS readable at all (as bigint, converted
        # below), and the UTC pin makes the NTZ→TIMESTAMP cast for
        # events value-preserving, matching DuckDB's naive-epoch math.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in TEMPORAL_COLS.get(name, ()):
        df = _normalize_temporal(df, col, to_ltz=(name == "events"))
    return df


def _normalize_temporal(df: DataFrame, col: str, to_ltz: bool) -> DataFrame:
    """Normalize one temporal column regardless of how the parquet
    encoded it (nanos-as-long, native micros, or TIMESTAMP_NTZ).
    Dispatch on the actual schema — never assume the driver's data
    shape (a NANOS or NTZ column must read the same).

    ``to_ltz``: events.ts additionally needs TIMESTAMP (not NTZ) —
    ``unix_millis`` & co. reject NTZ. The date-valued columns
    (o_orderdate, l_shipdate) stay NTZ when read that way: every use
    is date_format/year/comparison, all NTZ-safe, and the green gate
    pins those values."""
    dt = df.schema[col].dataType
    if to_ltz:
        # Pin UTC for EVERY to_ltz shape, not only NTZ: the nanos-as-
        # long branch lands on TimestampType too, and its downstream
        # date_format/strftime renderings shift identically on a
        # non-UTC harness session (streaming callers reach here via
        # events_with_ts without passing through read_table's pin).
        # Mutating the session conf is the engine's documented
        # contract: all oracle parity assumes UTC rendering.
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    if isinstance(dt, T.LongType):
        # nanos read as bigint (nanosAsLong). Integer div — double
        # division would lose precision on 1.7e18-scale nano values
        # (53-bit mantissa).
        df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        if not to_ltz:
            df = df.withColumn(col, F.col(col).cast("timestamp_ntz"))
    elif to_ltz and isinstance(dt, T.TimestampNTZType):
        # The NTZ→TIMESTAMP cast is value-preserving ONLY under the
        # UTC session tz pinned above (without it the cast shifts
        # values silently instead of failing).
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def events_with_ts(events: DataFrame) -> DataFrame:
    """Normalize the events table's ts to TimestampType (streaming
    readers hit this directly; batch goes through read_table)."""
    return _normalize_temporal(events, "ts", to_ltz=True)


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` over one fixture table, robust to the two
    shapes a parquet "table" arrives in: a single ``<name>.parquet``
    FILE (the driver's testdata) or a ``<name>.parquet/`` DIRECTORY
    of part files (anything Spark itself wrote — e.g. the ×10
    scale-probe fixture). The file source only watches directories,
    so the single-file shape streams its parent with a
    ``pathGlobFilter``; that filter matches leaf file names, which is
    exactly why it finds nothing inside a directory-shaped table —
    the bug this helper removes from every streaming parity query.
    Temporal columns are NOT normalized here (callers needing ts go
    through :func:`events_with_ts`), but the schema is taken from the
    batch reader so both shapes stream identically.

    LOCAL-FIXTURE HARNESS ONLY: the shape probe is ``os.path.isdir``,
    which sees nothing on an ``hdfs://``/``s3://`` sf_dir — fine
    here, because the single-file shape it disambiguates exists only
    in the driver's local testdata (a production deployment streams
    Spark-written DIRECTORY tables, where the probe is never needed;
    porting this helper off local disk means swapping the probe to
    the Hadoop FileSystem API, the pattern in
    materialize.py:_delete_fs_path)."""
    import os

    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).format("parquet")
    if os.path.isdir(path):
        return reader.load(path)
    return reader.option("pathGlobFilter", f"{name}.parquet").load(sf_dir)
