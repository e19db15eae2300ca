"""materialize.py lifecycle: DISK_ONLY persist tracking, the sweep of
rdd-N dirs under the engine-installed checkpoint dir, and the
per-process scratch root (per-query dirs, session dirs, the start-up
sweep of dead processes' roots)."""

import os
import subprocess
import sys
import textwrap

from sparkstreaming_realtime_spark import materialize as m
from sparkstreaming_realtime_spark.materialize import (
    _checkpoint_file,
    _LIVE,
    _LIVE_CKPT,
    materialize,
    release,
    release_all,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


def _unset_checkpoint_dir(spark) -> None:
    """Clear the session checkpoint dir — iterative operators install
    one via ensure_checkpoint_dir(), so a shared test session may
    arrive here with it set; these tests pin each materialize branch
    explicitly."""
    sc = spark.sparkContext
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(spark._jvm.scala.Option.empty())


#: a stand-in session for engine processes started by these tests: the
#: scratch-root code needs only the checkpoint-dir accessors and an
#: applicationId, so no JVM is started
_STUB_SPARK = """
import os, signal
from sparkstreaming_realtime_spark import materialize as m


class _SC:
    applicationId = "local-stub"
    _dir = None

    def getCheckpointDir(self):
        return self._dir

    def setCheckpointDir(self, d):
        self._dir = d


class _Spark:
    sparkContext = _SC()


spark = _Spark()
"""


def _engine_proc(tmp, code: str) -> subprocess.CompletedProcess:
    """Run ``code`` (after the stub-session prelude) in a fresh
    interpreter whose temp dir is ``tmp``."""
    env = dict(os.environ, TMPDIR=str(tmp))
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO, os.environ.get("PYTHONPATH")) if p
    )
    return subprocess.run(
        [sys.executable, "-c", _STUB_SPARK + textwrap.dedent(code)],
        env=env, cwd=_REPO, capture_output=True, text=True, timeout=120,
    )


def _root_name(pid: int, start) -> str:
    return f"sparkgraft-{pid}-{start}"


def test_persist_branch_tracks_and_releases(spark):
    release_all()  # isolate from other tests
    _unset_checkpoint_dir(spark)
    df = materialize(spark.range(100).selectExpr("id", "id * 2 AS v"))
    assert any(d is df for d in _LIVE)
    df.count()
    assert df.storageLevel.useDisk and not df.storageLevel.useMemory
    release(df)
    assert not any(d is df for d in _LIVE)
    assert not df.storageLevel.useDisk


def test_deployment_checkpoint_dir_is_never_touched(spark, tmp_path):
    """release_all() deletes no checkpoint file under a checkpoint
    dir the deployment configured, and stops tracking its frames."""
    release_all()
    _unset_checkpoint_dir(spark)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    sc.setCheckpointDir(str(tmp_path / "ck"))
    try:
        a = materialize(spark.range(50).selectExpr("id"), eager=True)
        b = materialize(spark.range(60).selectExpr("id"), eager=True)
        pa, pb = _local(_checkpoint_file(a)), _local(_checkpoint_file(b))
        assert os.path.isdir(pa) and os.path.isdir(pb)
        assert len(_LIVE_CKPT) == 2
        release_all()
        assert os.path.isdir(pa) and os.path.isdir(pb)
        assert _LIVE_CKPT == []
    finally:
        # unset so later tests see the engine's no-checkpoint default
        _unset_checkpoint_dir(spark)


def test_release_single_checkpointed_frame(spark):
    """release(df) stops tracking one checkpointed frame and keeps its
    files, even under the engine-installed dir; release_all() then
    deletes only the frames still tracked."""
    release_all()
    _unset_checkpoint_dir(spark)
    m.ensure_checkpoint_dir(spark)
    try:
        a = materialize(spark.range(10).selectExpr("id"), eager=True)
        b = materialize(spark.range(20).selectExpr("id"), eager=True)
        pa, pb = _local(_checkpoint_file(a)), _local(_checkpoint_file(b))
        release(a)
        assert os.path.isdir(pa) and os.path.isdir(pb)
        assert [d is b for d in _LIVE_CKPT] == [True]
        release_all()
        assert os.path.isdir(pa)  # released alone: its files stay
        assert not os.path.exists(pb)
    finally:
        _unset_checkpoint_dir(spark)


def test_engine_owned_checkpoints_autosweep_between_queries(spark):
    """The release_all() every registry query runs on entry deletes
    finished frames' rdd-N dirs when the engine itself installed the
    checkpoint dir, so a long gate/bench session does not pile up one
    dir per iterative query until process exit."""
    import glob

    release_all()
    _unset_checkpoint_dir(spark)
    m.ensure_checkpoint_dir(spark)
    root = _local(spark.sparkContext.getCheckpointDir())
    try:
        # a 3-query sequence: each query checkpoints an intermediate,
        # the next query's entry release_all() sweeps the previous one
        for i in range(3):
            release_all()  # what _released() runs on query entry
            materialize(spark.range(10 + i).selectExpr("id"), eager=True)
        release_all()  # the sequence ends (next query enters)
        orphans = glob.glob(os.path.join(root, "**", "rdd-*"),
                            recursive=True)
        assert orphans == []
        assert _LIVE_CKPT == []
    finally:
        _unset_checkpoint_dir(spark)


def test_ensure_checkpoint_dir_installs_and_respects(spark, tmp_path):
    """ensure_checkpoint_dir: installs a dir under the scratch root
    when none is set (so iterative loops always cut lineage), and
    NEVER overrides a deployment-configured one."""
    sc = spark.sparkContext
    _unset_checkpoint_dir(spark)
    assert sc.getCheckpointDir() is None
    m.ensure_checkpoint_dir(spark)
    installed = sc.getCheckpointDir()
    assert installed is not None
    assert _local(installed).startswith(m._root() + "/ckpt-")
    try:
        configured = str(tmp_path / "deploy_ck")
        sc.setCheckpointDir(configured)
        m.ensure_checkpoint_dir(spark)
        assert configured in sc.getCheckpointDir()
    finally:
        _unset_checkpoint_dir(spark)


def test_engine_tmpdirs_swept_by_release_all(spark):
    """Per-query scratch dirs (engine_tmpdir) die at the next
    release_all: a long session keeps no finished query's parity or
    layout dirs."""
    d1 = m.engine_tmpdir("t_sweep_a_")
    d2 = m.engine_tmpdir("t_sweep_b_")
    with open(os.path.join(d1, "x"), "w") as f:
        f.write("scratch")
    assert os.path.dirname(d1) == os.path.dirname(d2) == m._root()
    assert d1 in m._TMP_DIRS and d2 in m._TMP_DIRS
    release_all()
    assert not os.path.exists(d1) and not os.path.exists(d2)
    assert not m._TMP_DIRS


def test_session_dirs_survive_release_all(spark):
    """Session dirs (persisted indexes) live under the scratch root
    and survive release_all — later queries serve from them."""
    d = m.session_dir("t_session_ivf_like")
    assert d == os.path.join(m._root(), "t_session_ivf_like")
    with open(os.path.join(d, "part"), "w") as f:
        f.write("index")
    assert m.session_dir("t_session_ivf_like") == d  # same dir again
    release_all()
    assert os.path.isfile(os.path.join(d, "part"))


def test_parity_query_leaves_no_orphan_tmpdirs(spark, sf_dir):
    """End-to-end: after a streaming-parity registry query is
    collected, the next release_all leaves no new dir in the scratch
    root."""
    from sparkstreaming_realtime_spark.plans import queries

    release_all()  # clean slate
    before = set(os.listdir(m._root()))
    queries()["streaming_observe_metrics_parity"](spark, sf_dir).collect()
    assert set(os.listdir(m._root())) - before  # it did use the root
    release_all()
    after = set(os.listdir(m._root()))
    assert after - before == set(), f"orphans: {after - before}"


def test_exit_sweep_is_one_handler_and_tracks_both_dir_kinds(tmp_path):
    """One atexit handler per process removes the whole root on a
    normal exit: per-query dirs, session dirs and the engine
    checkpoint dir alike."""
    proc = _engine_proc(tmp_path, """
        import atexit
        handlers = atexit._ncallbacks()
        m.engine_tmpdir("qa_")
        m.session_dir("idx")
        m.ensure_checkpoint_dir(spark)
        m.engine_tmpdir("qb_")
        assert atexit._ncallbacks() == handlers + 1
        kinds = sorted(name[:3] for name in os.listdir(m._root()))
        assert kinds == ["ckp", "idx", "qa_", "qb_"], kinds
        print(m._root())
    """)
    assert proc.returncode == 0, proc.stderr
    root = proc.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)


def test_startup_sweep_reclaims_sigkill_orphans(tmp_path):
    """A SIGKILLed engine process runs no atexit handler. The next
    engine process's first dir creation deletes its whole root: the
    per-query dir, the index dir claimed before its (stubbed) build
    and the engine checkpoint dir. A live peer's root, a live pid-1
    root and a foreign spark-graft-* dir survive; a pid-1 root with a
    wrong starttime goes."""
    killed = _engine_proc(tmp_path, """
        from sparkstreaming_realtime_spark.plans import llm_queries as lq
        m.engine_tmpdir("idem_parity_")
        lq._session_index(
            spark, "ivf", "/data/sf0.01",
            build=lambda p: open(os.path.join(p, "centroids"), "w").close(),
        )
        m.ensure_checkpoint_dir(spark)
        print(m._root(), flush=True)
        os.kill(os.getpid(), signal.SIGKILL)
    """)
    assert killed.returncode == -9, killed.stderr
    dead = killed.stdout.strip()
    assert sorted(n[:4] for n in os.listdir(dead)) == [
        "ckpt", "idem", "ivf_"
    ]
    start1 = m._proc_start_time(1)
    assert start1 is not None
    peer = tmp_path / _root_name(os.getpid(), m._proc_start_time(os.getpid()))
    pid1_live = tmp_path / _root_name(1, start1)
    pid1_recycled = tmp_path / _root_name(1, start1 + 7)
    foreign = tmp_path / "spark-graft-ckpt-old"
    for d in (peer, pid1_live, pid1_recycled, foreign):
        (d / "sub").mkdir(parents=True)

    nxt = _engine_proc(tmp_path, """
        m.engine_tmpdir("next_")
        print(m._root())
    """)
    assert nxt.returncode == 0, nxt.stderr
    left = set(os.listdir(tmp_path))
    assert os.path.basename(dead) not in left
    assert pid1_recycled.name not in left
    assert {peer.name, pid1_live.name, foreign.name} <= left
    # the next process's own root is gone too: it exited normally
    assert not os.path.exists(nxt.stdout.strip())


def test_startup_sweep_respects_live_owner_marker(tmp_path):
    """A root named after a LIVE process incarnation is that process's
    own: the sweep keeps it. A root named after a reaped child goes."""
    child = subprocess.Popen(["true"])
    child.wait()
    live = tmp_path / _root_name(os.getpid(), m._proc_start_time(os.getpid()))
    gone = tmp_path / _root_name(child.pid, 12345)
    for d in (live, gone):
        d.mkdir()
    proc = _engine_proc(tmp_path, "m.session_dir('x')")
    assert proc.returncode == 0, proc.stderr
    assert live.is_dir() and not gone.exists()


def test_startup_sweep_detects_recycled_pid(tmp_path):
    """A root whose pid is alive but whose starttime is not the
    running incarnation's belongs to a dead process whose pid was
    reused: it goes. The same pid with the right starttime stays."""
    start = m._proc_start_time(1)  # pid 1 is always alive
    if start is None:
        import pytest

        pytest.skip("no /proc on this platform")
    recycled = tmp_path / _root_name(1, start + 7)
    genuine = tmp_path / _root_name(1, start)
    for d in (recycled, genuine):
        d.mkdir()
    proc = _engine_proc(tmp_path, "m.engine_tmpdir('x_')")
    assert proc.returncode == 0, proc.stderr
    assert genuine.is_dir() and not recycled.exists()


def test_startup_sweep_runs_on_checkpoint_install(tmp_path):
    """Kill-then-restart: when installing the checkpoint dir is a
    process's first engine dir, it sweeps a dead predecessor's root
    — and only once per process."""
    orphan = tmp_path / _root_name(1, m._proc_start_time(1) + 3)
    (orphan / "ckpt-killed").mkdir(parents=True)
    proc = _engine_proc(tmp_path, f"""
        m.ensure_checkpoint_dir(spark)
        assert not os.path.exists({str(orphan)!r})
        os.makedirs({str(orphan)!r})
        m.engine_tmpdir("later_")  # the root exists: no second sweep
        assert os.path.isdir({str(orphan)!r})
    """)
    assert proc.returncode == 0, proc.stderr


def test_only_materialize_picks_temp_paths():
    """Every engine dir lives under the one scratch root, so no module
    of the package (nor bench.py) but materialize.py may ask
    ``tempfile`` for a path of its own."""
    import ast
    import glob

    banned = {"mkdtemp", "mkstemp", "gettempdir", "TemporaryDirectory"}
    pkg = os.path.join(_REPO, "sparkstreaming_realtime_spark")
    files = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    files.append(os.path.join(_REPO, "bench.py"))
    sites = []
    for path in files:
        if path == os.path.join(pkg, "materialize.py"):
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(
                fn, "id", None
            )
            if name in banned:
                sites.append(f"{os.path.relpath(path, _REPO)}:{node.lineno}")
    assert sites == [], sites
