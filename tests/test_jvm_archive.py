"""The driver JVM's class-data archive (``jvm_archive``): the launch chosen
in each state of the cache, and sessions that start and give the same
rows whatever the cache holds.

Archives here are real: a ``java -version`` run with
``-XX:ArchiveClassesAtExit`` writes a small one in a fraction of a
second, and the probe checks it exactly as it checks a session's."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from stock_streaming_data_pipeline_spark import jvm_archive
from tests.conftest import REPO


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty cache directory and a launch environment the archive
    accepts."""
    path = tmp_path / "jvm"
    monkeypatch.setattr(jvm_archive, "CACHE_DIR", str(path))
    for name in jvm_archive._LAUNCH_ENV:
        monkeypatch.delenv(name, raising=False)
    return path


def _key() -> str:
    """The key path of the first dump launch in an empty cache."""
    launch = jvm_archive.plan({})
    assert launch is not None and launch.lock is not None
    launch.abandon()
    return launch.lock[: -len(".lock")]


def _exited_dump(key: str, classpath: str) -> None:
    """What a dumping session leaves when its JVM exits: a part written by
    ``-XX:ArchiveClassesAtExit`` and a lock naming a process that ended."""
    java = jvm_archive._java()
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={key}.part", "-Xlog:cds*=off",
         "-cp", classpath, "-version"],
        check=True, capture_output=True,
    )
    done = subprocess.Popen(["true"])
    done.wait()
    with open(key + ".lock", "w") as fh:
        json.dump({"pid": done.pid, "start": None, "classpath": classpath, "heap": "64m"}, fh)


def _damage(path: str, *, truncate: bool) -> None:
    os.chmod(path, 0o644)
    size = os.path.getsize(path)
    with open(path, "r+b") as fh:
        if truncate:
            fh.truncate(size // 2)
        else:
            fh.seek(size // 2)
            chunk = fh.read(64)
            fh.seek(size // 2)
            fh.write(bytes(b ^ 0xFF for b in chunk))


def _options(launch) -> str:
    assert launch is not None
    return launch.java_options


def test_missing_archive_launches_a_dump(cache):
    launch = jvm_archive.plan({"spark.driver.memory": "2g"})
    key = launch.lock[: -len(".lock")]
    assert f"-XX:ArchiveClassesAtExit={key}.part" in _options(launch)
    assert "-Xlog:cds*=off" in launch.java_options
    assert launch.conf_dir == str(cache / "conf") and os.listdir(launch.conf_dir) == []
    with open(launch.lock) as fh:
        assert json.load(fh)["pid"] == os.getpid()
    launch.abandon()
    assert sorted(os.listdir(cache)) == ["conf"]


def test_valid_part_is_promoted_then_mapped(cache):
    key = _key()
    _exited_dump(key, str(cache / "conf"))
    launch = jvm_archive.plan({})
    assert f"-XX:SharedArchiveFile={key}.jsa -Xshare:auto" in _options(launch)
    assert launch.lock is None
    name = os.path.basename(key)
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{name}.jsa", f"{name}.sig"])
    # the promoted archive is mapped again without a probe
    assert jvm_archive.plan({}).java_options == launch.java_options


@pytest.mark.parametrize("truncate", [True, False], ids=["truncated", "flipped-bytes"])
def test_damaged_part_is_deleted_and_dumped_again(cache, truncate):
    key = _key()
    _exited_dump(key, str(cache / "conf"))
    _damage(key + ".part", truncate=truncate)
    launch = jvm_archive.plan({})
    assert "ArchiveClassesAtExit" in _options(launch)
    assert not os.path.exists(key + ".part")
    assert not os.path.exists(key + ".jsa")
    launch.abandon()


def test_corrupt_promoted_archive_is_deleted(cache):
    key = _key()
    _exited_dump(key, str(cache / "conf"))
    assert "SharedArchiveFile" in _options(jvm_archive.plan({}))
    _damage(key + ".jsa", truncate=False)
    launch = jvm_archive.plan({})
    assert "ArchiveClassesAtExit" in _options(launch)
    assert not os.path.exists(key + ".jsa") and not os.path.exists(key + ".sig")
    launch.abandon()


def test_stale_key_is_not_mapped_and_goes_on_promotion(cache):
    key = _key()
    stale = cache / "0123456789abcdef"
    for suffix in (".jsa", ".sig", ".probe-crash.log"):
        (cache / f"0123456789abcdef{suffix}").write_text("old")
    launch = jvm_archive.plan({})
    assert "ArchiveClassesAtExit" in _options(launch)
    assert str(stale) not in launch.java_options
    launch.abandon()
    _exited_dump(key, str(cache / "conf"))
    assert "SharedArchiveFile" in _options(jvm_archive.plan({}))
    assert not any(n.startswith("0123456789abcdef") for n in os.listdir(cache))


def test_dump_in_flight_launches_plainly(cache):
    key = _key()
    _exited_dump(key, str(cache / "conf"))
    with open(key + ".lock", "w") as fh:
        json.dump({"pid": os.getpid(), "start": jvm_archive._proc_start(os.getpid())}, fh)
    assert jvm_archive.plan({}) is None
    assert os.path.exists(key + ".lock") and os.path.exists(key + ".part")


def test_caller_conf_dir_launches_plainly(cache, monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", str(cache.parent))
    assert jvm_archive.plan({}) is None
    assert not cache.exists()


def test_caller_classpath_launches_plainly(cache):
    assert jvm_archive.plan({"spark.driver.extraClassPath": "/x.jar"}) is None
    assert not cache.exists()


def test_spark_conf_file_launches_plainly(cache, tmp_path, monkeypatch):
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    (home / "jars").mkdir()
    jvm_archive.plan({}).abandon()
    (home / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert jvm_archive.plan({}) is None


def test_unwritable_cache_launches_plainly(tmp_path, monkeypatch):
    blocker = tmp_path / "a-file"
    blocker.write_text("")
    monkeypatch.setattr(jvm_archive, "CACHE_DIR", str(blocker / "jvm"))
    assert jvm_archive.plan({}) is None


def test_failed_build_restores_the_environment(cache, monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    before = dict(os.environ)
    conf = {"spark.driver.defaultJavaOptions": "-Dcaller=1"}
    with pytest.raises(RuntimeError):
        with jvm_archive.launching(conf):
            assert os.environ["SPARK_CONF_DIR"] == str(cache / "conf")
            raise RuntimeError("gateway did not start")
    assert dict(os.environ) == before
    assert conf["spark.driver.defaultJavaOptions"].endswith(" -Dcaller=1")
    assert sorted(os.listdir(cache)) == ["conf"]


_SESSIONS = r"""
import json, os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from stock_streaming_data_pipeline_spark import jvm_archive
from stock_streaming_data_pipeline_spark.session import get_spark

jvm_archive.CACHE_DIR, tmpdir = sys.argv[2], sys.argv[3]
home, java = os.environ["SPARK_HOME"], jvm_archive._java()
conf_dir = os.path.join(jvm_archive.CACHE_DIR, "conf")
os.makedirs(conf_dir)
key = os.path.join(jvm_archive.CACHE_DIR, jvm_archive._key(java, home, conf_dir))


def exited_dump(classpath):
    subprocess.run([java, f"-XX:ArchiveClassesAtExit={key}.part", "-Xlog:cds*=off",
                    "-cp", classpath, "-version"], check=True, capture_output=True)
    with open(key + ".lock", "w") as fh:
        json.dump({"pid": 0, "start": None, "classpath": classpath, "heap": "64m"}, fh)


def session(java_options=""):
    before = dict(os.environ)
    spark = get_spark("archive-e2e", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmpdir} {java_options}"})
    jvm = spark._jvm
    vm = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    changed = sorted(k for k in {*before, *os.environ} if before.get(k) != os.environ.get(k))
    df = spark.range(200).selectExpr("id % 7 AS k", "id").groupBy("k").sum("id")
    print(json.dumps({
        "rows": sorted(map(list, df.collect())),
        "tmpdir": spark._jvm.java.lang.System.getProperty("java.io.tmpdir"),
        "options": spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions"),
        "env": changed,
        "tier4": {name: vm.getVMOption(name).getValue() for name in (
            "Tier4InvocationThreshold", "Tier4MinInvocationThreshold",
            "Tier4CompileThreshold", "Tier4BackEdgeThreshold")},
    }))
    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.kill()  # a dumping JVM exits without writing its archive
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


exited_dump(conf_dir)
os.truncate(key + ".part", os.path.getsize(key + ".part") // 2)
session()

# an archive made for the session's own launch classpath
exited_dump(f"{conf_dir}/:{home}/jars/*")
session()

os.chmod(key + ".jsa", 0o644)
with open(key + ".jsa", "r+b") as fh:
    fh.seek(os.path.getsize(key + ".jsa") // 2)
    fh.write(b"\xff" * 64)
session("-XX:Tier4InvocationThreshold=7000")
"""

# C2 thresholds every get_spark JVM runs with: 3x JDK 17's defaults.
_TIER4 = {
    "Tier4InvocationThreshold": "15000",
    "Tier4MinInvocationThreshold": "1800",
    "Tier4CompileThreshold": "45000",
    "Tier4BackEdgeThreshold": "120000",
}
# PySpark's SparkContext sets these itself on its first start.
_PYSPARK_ENV = {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}


def test_sessions_start_whatever_the_cache_holds(tmp_path):
    """Real sessions, one JVM after another in one process: a launch over
    a truncated part (it launches a dump), a launch that promotes and
    maps an archive made for its classpath, and a launch over that
    archive corrupted. Each returns the rows, keeps the caller's
    -Djava.io.tmpdir, runs with the engine's C2 thresholds and leaves
    os.environ as it found it. The last one's caller sets
    -XX:Tier4InvocationThreshold in extraJavaOptions, and that value
    wins."""
    cache = tmp_path / "jvm"
    tmpdir = tmp_path / "java-tmp"
    tmpdir.mkdir()
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    for name in jvm_archive._LAUNCH_ENV:
        env.pop(name, None)
    done = subprocess.run(
        [sys.executable, "-c", _SESSIONS, str(REPO), str(cache), str(tmpdir)],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=400,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    runs = [json.loads(line) for line in done.stdout.splitlines() if line.startswith("{")]
    truncated, mapped, corrupt = runs
    assert "ArchiveClassesAtExit" in truncated["options"]
    assert "SharedArchiveFile" in mapped["options"]
    assert "ArchiveClassesAtExit" in corrupt["options"]
    want = [[k, sum(range(k, 200, 7))] for k in range(7)]
    for run in runs:
        assert run["rows"] == want
        assert run["tmpdir"] == str(tmpdir)
        assert set(run["env"]) <= _PYSPARK_ENV
    assert truncated["tier4"] == mapped["tier4"] == _TIER4
    assert corrupt["tier4"] == {**_TIER4, "Tier4InvocationThreshold": "7000"}
    assert not list(tmp_path.glob("hs_err_pid*"))


def test_git_tracks_no_jvm_artefacts():
    tracked = subprocess.run(
        ["git", "ls-files"], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.splitlines()
    assert not [
        p for p in tracked
        if p.endswith(".jsa") or os.path.basename(p).startswith("hs_err_pid")
    ]
