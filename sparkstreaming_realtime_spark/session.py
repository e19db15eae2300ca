"""SparkSession factory and table loading.

Replaces the reference's hand-rolled app bootstrap
(``OdsBaseLogApp.scala:31-32`` — ``SparkConf().setMaster("local[4]")``
+ ``StreamingContext(conf, Seconds(5))``) with a single configured
SparkSession. Offsets/state that the reference kept in Redis
(``MyOffsetUtils.scala:20-63``) are handled by Structured Streaming
checkpoints, so no sidecar config exists here.

Scale notes: AQE on (runtime coalesce + skew-join), shuffle
partitions sized by env for local runs but left to the cluster
manager on a real deployment, UTC session timezone pinned so results
hash-match the DuckDB oracle.

Streaming checkpoints commit through Spark's
``FileSystemBasedCheckpointFileManager`` instead of the default
``FileContextBasedCheckpointFileManager``. Every micro-batch renames
its offset-log and commit-log entries and each state-store delta and
checksum file into place. On ``file:`` the FileContext rename calls
``getFileLinkStatus`` on both paths, and without Hadoop's native
library each call forks a ``readlink`` process; the FileSystem rename
is a plain ``File.renameTo``. Both managers check that the target is
absent and then rename (neither is atomic on the local FS), and both
keep the Hadoop ``.crc`` and Spark checksum files. A stock session
keeps Spark's default manager and gets the same results with more
forks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "sparkstreaming-realtime-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (local test harness);
    on a real cluster the builder would not set ``master`` at all.
    """
    # reclaim spark-graft-* tmp orphans a SIGKILLed predecessor left
    # (atexit sweeps cover normal exits only); once per process
    from .materialize import startup_sweep_once

    startup_sweep_once()

    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the driver's events.parquet stores ts as TIMESTAMP(NANOS),
        # which vanilla Spark rejects; read as bigint-nanos and
        # normalize in sources.files.events_with_ts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the default FileContext manager forks a `readlink` per path
        # on every checkpoint rename when libhadoop is absent; this one
        # renames with File.renameTo, same check-then-rename semantics
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one warehouse table (columnar parquet scan; Catalyst gets
    pushdown + pruning for free). Routed through sources.files.read_table
    so events gets the same nanos→timestamp normalization everywhere."""
    from .sources.files import read_table

    return read_table(spark, sf_dir, name)


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, register_views: bool = True
) -> dict[str, DataFrame]:
    """Load every driver table; optionally register temp views so the
    SQL API sees the same names as the DuckDB oracle."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
