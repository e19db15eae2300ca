"""Cluster-durable DataFrame materialization, and the engine's scratch
root.

``localCheckpoint`` is tempting for cutting lineage / sharing a
subtree across plan branches, but it writes blocks to executor-LOCAL
storage with no replication and no lineage to recompute from: on a
real cluster, losing ONE executor mid-job kills a 100 TB run.
``eager=False`` localCheckpoint also interacts
poorly with AQE's runtime re-planning.

:func:`materialize` is the durable replacement used by the dedup /
curation hot paths:

- If the session has a reliable checkpoint dir configured
  (``sparkContext.setCheckpointDir`` — on a cluster, an HDFS/S3
  path), use ``df.checkpoint()``: lineage is truly cut (bounds plan
  depth in iterative loops) and blocks survive executor loss.
- Otherwise ``persist(StorageLevel.DISK_ONLY)``: blocks spill to
  disk (no memory pressure on 100 TB intermediates) and remain
  RECOMPUTABLE from lineage if an executor dies — strictly safer
  than localCheckpoint. Lineage is not cut, which is fine for the
  bounded loops here (label propagation converges in 2–4 rounds).

Callers that finish with an intermediate should ``unpersist()`` it
explicitly (see :func:`release`). :func:`release_all` drops every
tracked frame's blocks, and deletes the ``rdd-N`` dirs of tracked
checkpointed frames under the checkpoint dir the engine installed
(:func:`ensure_checkpoint_dir`). A deployment-configured checkpoint
dir is never touched: its retention belongs to the deployment
(``spark.cleaner.referenceTracking.cleanCheckpoints`` or an external
policy).

Scratch root: every local dir the engine creates lives under one root
per process, ``<tmp>/sparkgraft-<pid>-<starttime>/``, where
``starttime`` is the kernel start tick of the process (field 22 of
``/proc/<pid>/stat``). The name is the ownership record: the (pid,
starttime) pair names one process incarnation, so a recycled pid
never matches it. The root holds

- per-query dirs from :func:`engine_tmpdir`, deleted by the next
  :func:`release_all`;
- session-lived dirs from :func:`session_dir` (persisted index
  builds), kept until the process exits;
- the checkpoint dir :func:`ensure_checkpoint_dir` installs.

One ``atexit`` handler removes the root on a normal exit. A SIGKILLed
or OOM-killed process runs no handler, so the first time a process
creates its root it deletes every other ``sparkgraft-<pid>-<starttime>``
root in tmp whose incarnation is not running: a live peer's root
stays, and so does anything not named like a root. Without ``/proc``
no liveness can be judged and the sweep deletes nothing.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame

#: every frame materialize() has persisted and not yet released —
#: lets a long-lived session (the driver's correctness harness, the
#: bench loop) drop blocks from finished queries via release_all().
#: Leaked persisted blocks degrade later queries in the same session
#: (measured ~4× on the bench tail), so cleanup is not optional.
_LIVE: list[DataFrame] = []

#: checkpointed frames not yet released
_LIVE_CKPT: list[DataFrame] = []

#: per-QUERY scratch dirs (streaming-parity sinks + checkpoints,
#: warehouse layout fixtures), deleted by the NEXT release_all(): by
#: the time the registry enters the next query, the previous query's
#: result has been collected, so its scratch dirs are dead. Without
#: this a long session piles up hundreds of dirs (~220 dirs / 670 MB
#: measured) until exit.
_TMP_DIRS: list[str] = []

#: this process's scratch root, created by the first _root() call
_ROOT: str | None = None
_ROOT_NAME = re.compile(r"sparkgraft-(\d+)-(\d+)")

#: the checkpoint dir ensure_checkpoint_dir() itself installed (None
#: if the deployment configured one first)
_ENGINE_CKPT_DIR: str | None = None


def _proc_start_time(pid: int) -> int | None:
    """The kernel start tick of ``pid``, or None when it can't be
    read (process gone, or no /proc on this platform). Field 22 of
    /proc/<pid>/stat, parsed after the last ')' because the comm
    field may itself contain spaces and parens."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            return int(f.read().rsplit(b")", 1)[1].split()[19])
    except (OSError, ValueError, IndexError):
        return None


def _root() -> str:
    """This process's scratch root. The first call deletes the roots
    of engine processes that are gone, creates this one and registers
    its removal at exit."""
    global _ROOT
    if _ROOT is None:
        tmp = tempfile.gettempdir()
        start = _proc_start_time(os.getpid())
        if start is not None:
            for name in os.listdir(tmp):
                m = _ROOT_NAME.fullmatch(name)
                if m and _proc_start_time(int(m[1])) != int(m[2]):
                    shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        _ROOT = os.path.join(tmp, f"sparkgraft-{os.getpid()}-{start or 0}")
        os.makedirs(_ROOT, exist_ok=True)
        atexit.register(shutil.rmtree, _ROOT, True)
    return _ROOT


def engine_tmpdir(prefix: str) -> str:
    """A fresh per-query scratch dir under the scratch root. Every
    engine-internal scratch dir (parity sinks, streaming checkpoints,
    layout fixtures) comes from here or :func:`session_dir`.

    LIFECYCLE CONTRACT: dirs from here live until the NEXT
    :func:`release_all` (the registry calls it on entry to each
    query). A caller holding a LAZY DataFrame that reads from one of
    these dirs must collect it before the next registry query's
    entry — after the sweep the path is gone and the read fails with
    a missing-path error. Parity queries satisfy this by contract
    (the driver collects each query's result before invoking the
    next); anything longer-lived belongs in :func:`session_dir`."""
    path = tempfile.mkdtemp(prefix=prefix, dir=_root())
    _TMP_DIRS.append(path)
    return path


def session_dir(name: str) -> str:
    """The session-lived dir ``name`` under the scratch root, created
    if missing. No :func:`release_all` touches it: later queries in
    the process serve from it, and it goes with the root at exit."""
    path = os.path.join(_root(), name)
    os.makedirs(path, exist_ok=True)
    return path


def ensure_checkpoint_dir(spark) -> None:
    """Guarantee the session has a reliable checkpoint dir, so
    :func:`materialize` cuts lineage for real.

    ITERATIVE callers (label propagation, Lloyd loops) must call this
    first: the DISK_ONLY fallback persists *blocks* but leaves the
    logical plan intact, so a loop that rebuilds ``labels`` from
    ``labels`` doubles the plan per round — re-analysis goes
    exponential past ~5 rounds (measured: rounds 0–6 of the sf0.1
    embedding component loop took 1.8 → 391 s with persist, flat
    ~1.5 s with checkpoint). A graph with diameter d needs d+1
    rounds, and d is data-dependent — no fixed round budget is safe.

    If the deployment already configured a durable dir (HDFS/S3 on a
    cluster), it is respected. Otherwise a dir under the scratch root
    is installed — correct on local[*] (one JVM); a multi-node cluster
    should always configure a shared dir instead."""
    global _ENGINE_CKPT_DIR
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        _ENGINE_CKPT_DIR = tempfile.mkdtemp(prefix="ckpt-", dir=_root())
        sc.setCheckpointDir(_ENGINE_CKPT_DIR)


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Durably materialize ``df`` for reuse across plan subtrees.

    ``eager=True`` forces computation now (use inside iterative loops
    where the next step's plan must not recompute this one); lazy
    otherwise — the first action populates the store.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        # reliable checkpoint: replicated storage + true lineage cut
        out = df.checkpoint(eager=eager)
        _LIVE_CKPT.append(out)
        return out
    out = df.persist(StorageLevel.DISK_ONLY)
    _LIVE.append(out)
    if eager:
        out.count()
    return out


def _checkpoint_file(df: DataFrame) -> str | None:
    """The rdd-N directory backing a checkpointed DataFrame (None if
    the lazy checkpoint never executed). The analyzed plan of a
    checkpoint() result is a LogicalRDD over the checkpointed RDD."""
    try:
        opt = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
        return opt.get() if opt.isDefined() else None
    except Exception:  # pragma: no cover — internals moved; skip clean
        return None


def release(df: DataFrame) -> None:
    """Drop a materialized intermediate's blocks and stop tracking it.
    A checkpointed frame's files stay: an un-executed plan may still
    read them."""
    try:
        df.unpersist()
    except Exception:  # pragma: no cover — best-effort cleanup
        pass
    _LIVE[:] = [d for d in _LIVE if d is not df]
    _LIVE_CKPT[:] = [d for d in _LIVE_CKPT if d is not df]


def release_all() -> None:
    """Release every tracked frame and delete the per-query scratch
    dirs. Called by the query registry on entry to each query, so
    blocks, checkpoint files and scratch dirs from FINISHED queries
    never pile up across a long gate/bench session — only the
    engine's own frames are touched (never a caller's caches, unlike
    ``spark.catalog.clearCache()``). A checkpointed frame's rdd-N dir
    is deleted only under the engine-installed checkpoint dir."""
    for df in _LIVE:
        try:
            df.unpersist()
        except Exception:  # pragma: no cover
            pass
    _LIVE.clear()
    for df in _LIVE_CKPT:
        path = _checkpoint_file(df)
        # the engine-installed dir is local (mkdtemp): strip the
        # file: scheme Spark reports and delete with the local FS
        local = "/" + path.split(":", 1)[-1].lstrip("/") if path else ""
        if _ENGINE_CKPT_DIR and local.startswith(_ENGINE_CKPT_DIR + "/"):
            shutil.rmtree(local, ignore_errors=True)
    _LIVE_CKPT.clear()
    # (engine_tmpdir's LIFECYCLE CONTRACT: a lazy frame reading one of
    # these dirs must be collected before this sweep runs)
    for d in _TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _TMP_DIRS.clear()
