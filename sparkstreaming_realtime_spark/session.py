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
hash-match the DuckDB oracle. Spark turns AQE off for a stateful
query's micro-batches; the stream bindings in streaming/pipelines.py
give the ``foreachBatch`` writer this session's setting back for each
call.

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

The driver JVM starts from a JDK class-data-sharing archive (JEP 350
dynamic AppCDS): a memory-mapped image of the JDK, Scala and Spark
classes a session loads, so the JVM maps them instead of
parsing and verifying each jar entry again. The archive lives in
``${XDG_CACHE_HOME:-~/.cache}/sparkstreaming-realtime-spark/cds/``,
never in the repository, named after a key of the real ``java.home``
and its ``release`` file, every driver classpath jar (name, size,
mtime) and the compressed-oops mode (a heap of 32 GB or more maps a
different JDK base archive). The first session for a key records the
archive when its JVM exits (``-XX:ArchiveClassesAtExit``, a few
seconds of start and ~10-17 s of exit dump); later sessions pass
``-XX:SharedArchiveFile``. The dump goes to a per-process temp file
that is renamed into place only after the JVM exited with status 0,
and the archive's byte size is part of its name: JDK 17 checks the
archive header, so a foreign or garbage file is ignored and classes
load as usual, but it maps a truncated archive without a size check
and dies with SIGBUS. Publishing a new archive deletes those of other
JDKs or jar sets and keeps the other compressed-oops variant. JDK 17
refuses to dump with a non-empty directory on the classpath, and
Spark puts ``$SPARK_HOME/conf`` there, so the launch points
``SPARK_CONF_DIR`` at an empty dir in the cache, and only when the
variable is unset and the conf dir holds nothing but ``*.template``
files. Any other classpath directory (``SPARK_DIST_CLASSPATH``,
``HADOOP_CONF_DIR``, ...), a caller's own ``-Xshare`` or archive
option, or an unwritable cache means no archive options at all.
Delete the ``cds`` dir to rebuild the archive.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

from . import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: from this driver heap up the JVM runs without compressed oops and
#: JDK 17 maps its other base archive, which a dynamic archive names
_COOPS_HEAP_LIMIT = 32 << 30
#: JVM options by which a caller already chose class-data sharing
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
#: variables by which Spark's launcher puts more directories on the
#: driver classpath (or changes its jar set)
_CLASSPATH_ENV = (
    "SPARK_CONF_DIR",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
    "SPARK_SQL_TESTING",
)
#: ``spark-<jdk>-<jars>-<oops>.<bytes>.jsa`` (a published archive) or
#: ``spark-<jdk>-<jars>-<oops>.<pid>-<n>.tmp`` (a dump in progress)
_CDS_NAME = re.compile(
    r"spark-([0-9a-f]{12}-[0-9a-f]{12}-(?:no)?coops)\.(\d+)(?:-\d+)?\.(jsa|tmp)"
)
#: how long an exiting process waits for its JVM's archive dump
_CDS_EXIT_WAIT_S = 300
#: JVMs recording an archive: (launcher ``Popen``, temp path)
_RECORDING: list[tuple[subprocess.Popen, str]] = []


def get_spark(
    app_name: str = "sparkstreaming-realtime-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (local test harness);
    on a real cluster the builder would not set ``master`` at all. A
    driver JVM this call starts uses the class-data-sharing archive
    (module docstring).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "48g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # the driver's events.parquet stores ts as TIMESTAMP(NANOS),
        # which vanilla Spark rejects; read as bigint-nanos and
        # normalize in sources.files.events_with_ts
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # the default FileContext manager forks a `readlink` per path
        # on every checkpoint rename when libhadoop is absent; this one
        # renames with File.renameTo, same check-then-rename semantics
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        **(extra_conf or {}),
    }
    # launch options only reach a JVM this call starts
    cds = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        _publish_recorded()
        cds = cds_plan(conf)
    if cds is not None:
        conf["spark.driver.defaultJavaOptions"] = cds.java_options
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds is not None:
        # cds_plan returns a plan only while the variable is unset
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if cds is not None:
            os.environ.pop("SPARK_CONF_DIR", None)
    proc = getattr(SparkContext._gateway, "proc", None)
    if cds is not None and cds.record is not None and proc is not None:
        if not _RECORDING:
            atexit.register(_publish_recorded, _CDS_EXIT_WAIT_S)
        _RECORDING.append((proc, cds.record))
    spark.sparkContext.setLogLevel("WARN")
    return spark


@dataclass(frozen=True)
class CdsPlan:
    """How to launch one driver JVM with a class-data-sharing archive:
    the ``spark.driver.defaultJavaOptions`` value, the empty dir to use
    as ``SPARK_CONF_DIR`` and, when no archive exists yet, the temp
    path the JVM dumps one to at exit."""

    java_options: str
    conf_dir: str
    record: str | None


def cds_dir() -> str:
    """The archive cache,
    ``${XDG_CACHE_HOME:-~/.cache}/sparkstreaming-realtime-spark/cds``."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "sparkstreaming-realtime-spark", "cds")


def cds_key(conf: dict[str, str]) -> str | None:
    """``<jdk>-<jars>-<oops>`` for a driver JVM launched with ``conf``,
    or None when the JDK or a classpath entry cannot be read, or the
    driver classpath holds a directory.

    ``<jdk>`` hashes the real ``java.home`` of the ``java`` Spark's
    launcher runs (``$JAVA_HOME/bin/java``, else ``java`` on the PATH)
    and its ``release`` file; ``<jars>`` hashes the name, size and
    mtime of every jar in ``$SPARK_HOME/jars`` and in
    ``spark.driver.extraClassPath``; ``<oops>`` is ``coops`` below a
    32 GB heap, else ``nocoops``."""
    from pyspark.find_spark_home import _find_spark_home

    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    heap = _heap_bytes(conf.get("spark.driver.memory", "1g"))
    if not java or heap is None:
        return None
    home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    entries = [os.path.join(_find_spark_home(), "jars", "*")]
    entries += conf.get("spark.driver.extraClassPath", "").split(os.pathsep)
    jars = hashlib.sha256()
    try:
        with open(os.path.join(home, "release"), "rb") as f:
            jdk = hashlib.sha256(home.encode() + b"\0" + f.read())
        for entry in filter(None, entries):
            if entry.endswith("*"):
                d = entry[:-1]
                paths = [
                    os.path.join(d, n)
                    for n in sorted(os.listdir(d))
                    if n.lower().endswith(".jar")
                ]
            elif os.path.isdir(entry):
                return None
            else:
                paths = [entry]
            for p in paths:
                st = os.stat(p)
                stamp = f"{os.path.basename(p)}\0{st.st_size}\0{st.st_mtime_ns}\n"
                jars.update(stamp.encode())
    except OSError:
        return None
    oops = "coops" if heap < _COOPS_HEAP_LIMIT else "nocoops"
    return f"{jdk.hexdigest()[:12]}-{jars.hexdigest()[:12]}-{oops}"


def cds_plan(conf: dict[str, str]) -> CdsPlan | None:
    """The class-data-sharing launch of a driver JVM with ``conf``, or
    None when the archive cannot apply (module docstring). The caller's
    own ``spark.driver.defaultJavaOptions`` follow the archive options."""
    from pyspark.find_spark_home import _find_spark_home

    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    java_options = (
        conf.get("spark.driver.defaultJavaOptions", "")
        + " "
        + conf.get("spark.driver.extraJavaOptions", "")
    )
    if any(flag in java_options for flag in _CDS_FLAGS):
        return None
    try:
        live = [
            n
            for n in os.listdir(os.path.join(_find_spark_home(), "conf"))
            if not n.endswith(".template")
        ]
    except FileNotFoundError:
        live = []
    key = None if live else cds_key(conf)
    if key is None:
        return None
    cache = cds_dir()
    conf_dir = os.path.join(cache, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir) or not os.access(cache, os.W_OK):
            return None
        archive = _find_archive(cache, key)
    except OSError:
        return None
    record = None
    if archive is not None:
        opts = f"-XX:SharedArchiveFile={archive}"
    else:
        record = os.path.join(cache, f"spark-{key}.{os.getpid()}-{len(_RECORDING)}.tmp")
        opts = f"-XX:ArchiveClassesAtExit={record}"
    # the JVM reports archive mismatches and skipped classes on stdout
    opts += " -Xlog:cds*=off"
    caller = conf.get("spark.driver.defaultJavaOptions")
    return CdsPlan(f"{opts} {caller}" if caller else opts, conf_dir, record)


def prune_cds(cache: str, key: str) -> None:
    """Delete the archives a new archive for ``key`` supersedes: the
    other archives of ``key``, those of another JDK or jar set, and the
    dumps of processes that are gone. The other compressed-oops variant
    of the same JDK and jars stays."""
    jdk_jars = key.rsplit("-", 1)[0]
    keep = _find_archive(cache, key)
    for name in os.listdir(cache):
        m = _CDS_NAME.fullmatch(name)
        if m is None:
            continue
        k, n, ext = m.groups()
        if ext == "tmp":
            stale = not _pid_alive(int(n))
        elif k == key:
            stale = os.path.join(cache, name) != keep
        else:
            stale = k.rsplit("-", 1)[0] != jdk_jars
        if stale:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(cache, name))


def _find_archive(cache: str, key: str) -> str | None:
    """A published archive for ``key`` whose size matches its name."""
    for name in sorted(os.listdir(cache), reverse=True):
        m = _CDS_NAME.fullmatch(name)
        if m and m[1] == key and m[3] == "jsa":
            path = os.path.join(cache, name)
            if os.stat(path).st_size == int(m[2]):
                return path
    return None


def _publish_recorded(wait_s: float = 0) -> None:
    """Rename each finished dump of this process into place. With
    ``wait_s`` (at exit) first end each recording JVM by closing its
    stdin, as the interpreter's exit would, and wait for its dump."""
    for proc, tmp in list(_RECORDING):
        if wait_s and proc.poll() is None:
            with contextlib.suppress(OSError, ValueError):
                proc.stdin.close()
            with contextlib.suppress(subprocess.TimeoutExpired):
                proc.wait(wait_s)
        if proc.poll() is None:
            continue
        _RECORDING.remove((proc, tmp))
        with contextlib.suppress(OSError):
            size = os.stat(tmp).st_size
            if proc.returncode != 0 or size == 0:
                os.remove(tmp)
                continue
            cache = os.path.dirname(tmp)
            key = _CDS_NAME.fullmatch(os.path.basename(tmp))[1]
            os.replace(tmp, os.path.join(cache, f"spark-{key}.{size}.jsa"))
            prune_cds(cache, key)


def _heap_bytes(mem: str) -> int | None:
    """A JVM memory string as bytes; a bare number is MiB, as in Spark."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", mem.strip().lower())
    if m is None:
        return None
    return int(m[1]) << {"k": 10, "": 20, "m": 20, "g": 30, "t": 40, "p": 50}[m[2]]


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


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
