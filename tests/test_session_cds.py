"""The driver JVM's class-data-sharing archive (``session.get_spark``).

Most tests decide the launch without a JVM: a fake ``$SPARK_HOME``
and an ``XDG_CACHE_HOME`` under ``tmp_path``, with
``SparkSession.Builder.getOrCreate`` replaced by a recorder of the
builder options and ``SPARK_CONF_DIR`` at launch time. Two tests start
real driver JVMs in subprocesses: one over a garbage and a truncated
archive, one that records the archive and then maps it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from sparkstreaming_realtime_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def fake_home(tmp_path, monkeypatch):
    """A ``$SPARK_HOME`` with two jars and a templates-only conf dir,
    a fresh cache, and none of the launcher's classpath variables."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar " + name.encode())
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in session._CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    return home


@pytest.fixture
def launches(monkeypatch):
    """Run ``get_spark`` as if no JVM existed, without starting one:
    each ``getOrCreate`` records the builder options and the
    ``SPARK_CONF_DIR`` it saw."""
    seen: list[tuple[dict, str | None]] = []

    class _Ctx:
        def setLogLevel(self, level):
            pass

    class _Session:
        sparkContext = _Ctx()

    def get_or_create(builder):
        seen.append((dict(builder._options), os.environ.get("SPARK_CONF_DIR")))
        return _Session()

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    return seen


def test_templates_only_conf_dir_launches_with_an_empty_conf_dir(fake_home, launches):
    session.get_spark(
        cpus=1,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.defaultJavaOptions": "-Dcaller=1",
        },
    )
    (opts, conf_dir), = launches
    plan_dir = os.path.join(session.cds_dir(), "conf")
    assert conf_dir == plan_dir and os.listdir(plan_dir) == []
    assert "SPARK_CONF_DIR" not in os.environ
    java = opts["spark.driver.defaultJavaOptions"].split()
    assert java[0].startswith("-XX:ArchiveClassesAtExit=" + session.cds_dir())
    # the caller's own options are merged in, after the archive's
    assert java[-1] == "-Dcaller=1"


def test_live_conf_file_means_no_cds_and_untouched_conf_dir(fake_home, launches):
    (fake_home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    assert session.cds_plan({"spark.driver.memory": "1g"}) is None
    session.get_spark(cpus=1, extra_conf={"spark.driver.memory": "1g"})
    (opts, conf_dir), = launches
    assert conf_dir is None and "SPARK_CONF_DIR" not in os.environ
    assert "spark.driver.defaultJavaOptions" not in opts


def test_a_set_spark_conf_dir_is_respected(fake_home, launches, monkeypatch, tmp_path):
    mine = tmp_path / "my-conf"
    mine.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(mine))
    session.get_spark(cpus=1, extra_conf={"spark.driver.memory": "1g"})
    (opts, conf_dir), = launches
    assert conf_dir == str(mine) and os.environ["SPARK_CONF_DIR"] == str(mine)
    assert "spark.driver.defaultJavaOptions" not in opts


def test_unwritable_cache_means_no_cds(fake_home, launches, monkeypatch, tmp_path):
    # a regular file where the cache dir would be: the dir cannot be
    # made, whatever the process's privileges
    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file" / "cache"))
    assert session.cds_plan({"spark.driver.memory": "1g"}) is None
    session.get_spark(cpus=1, extra_conf={"spark.driver.memory": "1g"})
    (opts, conf_dir), = launches
    assert conf_dir is None and "spark.driver.defaultJavaOptions" not in opts


def test_caller_class_sharing_options_turn_the_archive_off(fake_home):
    for key in ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions"):
        conf = {"spark.driver.memory": "1g", key: "-Xshare:off"}
        assert session.cds_plan(conf) is None


def test_key_changes_with_the_jar_set_and_across_the_32g_heap_line(fake_home, tmp_path):
    conf = {"spark.driver.memory": "31g"}
    key = session.cds_key(conf)
    jdk, jars, oops = key.split("-")
    assert oops == "coops"
    assert session.cds_key({"spark.driver.memory": "32g"}) == f"{jdk}-{jars}-nocoops"
    assert session.cds_key({"spark.driver.memory": "32768"}) == f"{jdk}-{jars}-nocoops"
    assert session.cds_key({"spark.driver.memory": "2g"}) == key
    (fake_home / "jars" / "c.jar").write_bytes(b"jar c")
    added = session.cds_key(conf)
    assert added.split("-")[1] != jars and added.split("-")[0] == jdk
    os.utime(fake_home / "jars" / "c.jar", ns=(0, 0))
    assert session.cds_key(conf) not in (key, added)
    extra = tmp_path / "extra.jar"
    extra.write_bytes(b"extra")
    with_extra = session.cds_key({**conf, "spark.driver.extraClassPath": str(extra)})
    assert with_extra != session.cds_key(conf)
    # JDK 17 dumps no archive with a non-empty directory on the
    # classpath, so a directory entry means no key
    with_dir = {**conf, "spark.driver.extraClassPath": str(tmp_path)}
    assert session.cds_key(with_dir) is None


def _archive(cache, key, size, data=None):
    path = os.path.join(cache, f"spark-{key}.{size}.jsa")
    with open(path, "wb") as f:
        f.write(b"x" * size if data is None else data)
    return path


def test_truncated_archive_is_not_mapped_but_recorded_again(fake_home):
    conf = {"spark.driver.memory": "1g"}
    key = session.cds_key(conf)
    cache = session.cds_dir()
    os.makedirs(cache)
    _archive(cache, key, 1000, b"x" * 10)
    plan = session.cds_plan(conf)
    assert plan.record is not None and "ArchiveClassesAtExit" in plan.java_options
    whole = _archive(cache, key, 12)
    plan = session.cds_plan(conf)
    assert plan.record is None
    assert plan.java_options.split()[0] == f"-XX:SharedArchiveFile={whole}"


def test_prune_keeps_only_the_new_archive_and_the_other_oops_variant(tmp_path):
    cache = str(tmp_path)
    key = "aaaaaaaaaaaa-bbbbbbbbbbbb-coops"
    dead = subprocess.Popen(["true"])
    dead.wait()
    keep = [
        _archive(cache, key, 7),
        _archive(cache, "aaaaaaaaaaaa-bbbbbbbbbbbb-nocoops", 5),
        os.path.join(cache, f"spark-{key}.{os.getpid()}-0.tmp"),
        os.path.join(cache, "unrelated.txt"),
    ]
    gone = [
        _archive(cache, key, 9, b"x"),  # truncated
        _archive(cache, "aaaaaaaaaaaa-cccccccccccc-coops", 5),  # other jars
        _archive(cache, "aaaaaaaaaaaa-cccccccccccc-nocoops", 5),
        _archive(cache, "dddddddddddd-bbbbbbbbbbbb-coops", 5),  # other JDK
        os.path.join(cache, f"spark-{key}.{dead.pid}-0.tmp"),  # dead dump
    ]
    for path in keep[2:] + gone[4:]:
        open(path, "w").close()
    session.prune_cds(cache, key)
    assert sorted(os.listdir(cache)) == sorted(os.path.basename(p) for p in keep)


def test_get_spark_with_a_live_jvm_computes_no_cds(spark, monkeypatch):
    def boom(conf):
        raise AssertionError("computed CDS options for a running JVM")

    monkeypatch.setattr(session, "cds_plan", boom)
    assert session.get_spark(app_name="tests", cpus=8, shuffle_partitions=8) is spark


#: run in a subprocess: start ``get_spark`` with a small heap, run one
#: job and report what the JVM was given and which archives it maps
_PROBE = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from sparkstreaming_realtime_spark import session

conf = {"spark.driver.memory": "1g"}
key, cache = session.cds_key(conf), session.cds_dir()
jdk, jars, oops = key.split("-")
os.makedirs(cache, exist_ok=True)
for name, data in json.loads(sys.argv[2]).items():
    name = name.replace("KEY", key).replace("JDK", jdk).replace("JARS", jars)
    with open(os.path.join(cache, name.replace("OOPS", oops)), "wb") as f:
        f.write(data.encode("latin-1"))
spark = session.get_spark(cpus=1, shuffle_partitions=1, extra_conf=conf)
jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{jvm}/maps") as f:
    mapped = sorted({l.split()[-1] for l in f if l.rstrip().endswith(".jsa")})
print(json.dumps({
    "count": spark.range(10).count(),
    "key": key,
    "java_options": spark.sparkContext.getConf().get(
        "spark.driver.defaultJavaOptions", ""
    ),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "mapped": mapped,
}))
"""


def _probe(cache_home, files=None) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in session._CLASSPATH_ENV}
    env["XDG_CACHE_HOME"] = str(cache_home)
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO, json.dumps(files or {})],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_garbage_or_truncated_archive_leaves_a_working_session(tmp_path):
    garbage = bytes(range(256)) * 16
    files = {
        # header-less bytes of the right size: the JVM rejects the
        # header and loads classes as usual
        f"spark-KEY.{len(garbage)}.jsa": garbage.decode("latin-1"),
        # a dynamic archive's magic and nothing after it: a size
        # mismatch, never passed to the JVM (JDK 17 maps a truncated
        # archive with an intact header and dies with SIGBUS)
        "spark-KEY.138000000.jsa": "\xa8\xba\x0b\xf0" + "\0" * 60,
    }
    out = _probe(tmp_path, files)
    cache = os.path.join(tmp_path, "sparkstreaming-realtime-spark", "cds")
    chosen = os.path.join(cache, f"spark-{out['key']}.{len(garbage)}.jsa")
    assert out["count"] == 10 and out["conf_dir"] is None
    assert out["java_options"].split()[0] == f"-XX:SharedArchiveFile={chosen}"
    assert chosen not in out["mapped"]
    assert not [n for n in os.listdir(cache) if n.endswith(".tmp")]


def test_first_session_records_the_archive_and_the_next_maps_it(tmp_path):
    planted = {
        # another jar set's archive goes once the new one is published;
        # the other compressed-oops variant of this JDK and jar set stays
        f"spark-JDK-{'0' * 12}-OOPS.3.jsa": "abc",
        "spark-JDK-JARS-nocoops.3.jsa": "abc",
    }
    first = _probe(tmp_path, planted)
    assert first["count"] == 10
    assert first["java_options"].split()[0].startswith("-XX:ArchiveClassesAtExit=")
    jdk, jars, _ = first["key"].split("-")
    cache = os.path.join(tmp_path, "sparkstreaming-realtime-spark", "cds")
    names = os.listdir(cache)
    archive, = [n for n in names if n.startswith(f"spark-{first['key']}.")]
    other_oops = f"spark-{jdk}-{jars}-nocoops.3.jsa"
    assert sorted(names) == sorted(["conf", archive, other_oops])
    archive = os.path.join(cache, archive)
    assert os.path.getsize(archive) == int(archive.rsplit(".", 2)[1]) > 0
    used = _probe(tmp_path)
    assert used["count"] == 10
    assert used["java_options"].split()[0] == f"-XX:SharedArchiveFile={archive}"
    assert archive in used["mapped"]
    os.remove(archive)  # ~140 MB; pytest keeps recent tmp dirs
