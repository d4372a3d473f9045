"""Class-data-sharing (CDS) archive for the driver JVM.

A cold driver JVM spends about half of its start loading and verifying
Spark's classes. JDK 17's dynamic CDS (JEP 350) writes the classes a JVM
loaded into an archive when it exits (``-XX:ArchiveClassesAtExit``), and a
later JVM with the same Java build and classpath maps them instead
(``-XX:SharedArchiveFile``). ``launching`` wraps the build of a session
whose gateway JVM is about to start, and picks one of three launches:

- a promoted archive whose size, mtime and inode match those recorded when
  it was promoted: map it (``-Xshare:auto``);
- no such archive and no dump in flight: launch with
  ``-XX:ArchiveClassesAtExit=<key>.part``; ``<key>.lock`` names the JVM
  until it exits;
- anything else: launch exactly as without this module.

Before that choice, a part whose JVM has exited is probed with
``-Xshare:on -XX:+VerifySharedSpaces`` and promoted by ``os.replace``, or
deleted. No JVM maps an unprobed file: a tail-truncated archive crashes
the JVM that maps it (SIGBUS) even under ``-Xshare:auto``, and only
``VerifySharedSpaces`` catches flipped bytes. The probe takes about half a
second; the dump takes about 18 s at exit and writes 140-200 MB.

Files live in ``CACHE_DIR``, one set per key: a hash of the Java build and
of the classpath entries (names, sizes, mtimes). A JVM silently ignores an
archive made for another classpath, so a stale archive would only cost
time; promoting a new key deletes the other keys' files.

A dump fails when the classpath holds a non-empty directory, and the
default conf directory is on it. So the engine's launches point
``SPARK_CONF_DIR`` at an empty directory, and only when nothing the caller
set can change the classpath and ``$SPARK_HOME/conf`` holds nothing but
``*.template`` files, which Spark never reads.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shlex
import shutil
import subprocess
from collections.abc import Iterator
from dataclasses import dataclass

CACHE_DIR = os.path.join(
    os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
    "stock_streaming_data_pipeline_spark",
    "jvm",
)

# What else Spark's launcher puts on the driver classpath
# (AbstractCommandBuilder.buildClassPath), spark-submit arguments, and an
# externally started gateway.
_LAUNCH_ENV = (
    "SPARK_CONF_DIR",
    "SPARK_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_DIST_CLASSPATH",
    "PYSPARK_SUBMIT_ARGS",
    "PYSPARK_GATEWAY_PORT",
)
# Keeps the JVM's CDS warnings (hundreds of "Skipping ..." lines at a dump)
# off stdout, where callers print their results.
_QUIET = "-Xlog:cds*=off"


@dataclass
class _Launch:
    java_options: str
    conf_dir: str
    lock: str | None  # set when this launch dumps
    heap: str

    def started(self) -> None:
        """Name the launched JVM in the lock, with what the probe needs."""
        if self.lock is None:
            return
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        classpath = SparkContext._jvm.java.lang.System.getProperty("java.class.path")
        record = _lock_record(pid, classpath=classpath, heap=self.heap)
        _publish(self.lock, record, exclusive=False)

    def abandon(self) -> None:
        if self.lock is not None:
            _remove(self.lock, self.lock[: -len(".lock")] + ".part")


@contextlib.contextmanager
def launching(conf: dict[str, str]) -> Iterator[None]:
    """Around a session build: if it is about to launch the gateway JVM,
    add the archive flags to ``conf``'s ``spark.driver.defaultJavaOptions``
    (which Spark puts before the caller's ``extraJavaOptions``) and point
    ``SPARK_CONF_DIR`` at the empty directory until the build returns."""
    from pyspark import SparkContext

    launch = plan(conf) if SparkContext._gateway is None else None
    if launch is None:
        yield
        return
    options = conf.get("spark.driver.defaultJavaOptions")
    conf["spark.driver.defaultJavaOptions"] = " ".join(filter(None, (launch.java_options, options)))
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        yield
    except BaseException:
        launch.abandon()
        raise
    finally:
        del os.environ["SPARK_CONF_DIR"]
    launch.started()


def plan(conf: dict[str, str]) -> _Launch | None:
    """The archive launch for ``conf``, or None to launch as usual."""
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    java = _java()
    if java is None or not _default_classpath(conf, home) or not os.path.isdir("/proc/self"):
        return None
    conf_dir = os.path.join(CACHE_DIR, "conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        key = os.path.join(CACHE_DIR, _key(java, home, conf_dir))
        _settle(key, java)
        heap = conf.get("spark.driver.memory", "1g")
        if _intact(key):
            options = _options(f"-XX:SharedArchiveFile={key}.jsa", "-Xshare:auto")
            return _Launch(options, conf_dir, None, heap)
        if not _publish(key + ".lock", _lock_record(os.getpid()), exclusive=True):
            return None  # a dump is in flight
        _remove(key + ".part")
        options = _options(f"-XX:ArchiveClassesAtExit={key}.part")
        return _Launch(options, conf_dir, key + ".lock", heap)
    except OSError:
        return None  # the cache is not writable


def _options(*flags: str) -> str:
    """One ``*JavaOptions`` value; Spark splits it like a shell."""
    return " ".join(shlex.quote(f) for f in (*flags, _QUIET))


def _java() -> str | None:
    """The java that ``spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _default_classpath(conf: dict[str, str], home: str) -> bool:
    """True when the launch classpath is the conf directory plus Spark's
    jars, and the default conf directory holds only templates."""
    if any(name in os.environ for name in _LAUNCH_ENV) or conf.get("spark.driver.extraClassPath"):
        return False
    try:
        names = os.listdir(os.path.join(home, "conf"))
    except FileNotFoundError:
        names = []
    return all(name.endswith(".template") for name in names)


def _signature(paths: list[str]) -> list:
    out = []
    for path in paths:
        try:
            st = os.stat(path)
        except OSError:
            out.append([path])
        else:
            out.append([path, st.st_size, st.st_mtime_ns])
    return out


def _key(java: str, spark_home: str, conf_dir: str) -> str:
    """Hash of the Java build and of the launch classpath's entries."""
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    jars = os.path.join(spark_home, "jars")
    build = [
        os.path.realpath(java),
        os.path.join(jdk, "release"),
        os.path.join(jdk, "lib", "modules"),
        os.path.join(jdk, "lib", "server", "libjvm.so"),
    ]
    classpath = [conf_dir] + [os.path.join(jars, n) for n in sorted(os.listdir(jars))]
    doc = json.dumps([_signature(build), _signature(classpath)])
    return hashlib.sha256(doc.encode()).hexdigest()[:16]


def _proc_start(pid: int) -> str | None:
    """Start time of a live process that is not a zombie, else None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def _lock_record(pid: int, **fields) -> str:
    return json.dumps({"pid": pid, "start": _proc_start(pid), **fields})


def _publish(path: str, text: str, *, exclusive: bool) -> bool:
    """Write ``text`` to ``path`` atomically. With ``exclusive``, only if
    ``path`` does not exist yet (False when it does)."""
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    try:
        if exclusive:
            os.link(tmp, path)
        else:
            os.replace(tmp, path)
    except FileExistsError:
        return False
    finally:
        _remove(tmp)
    return True


def _owner(lock: str) -> dict | None:
    """The lock's record while the process it names runs, else None."""
    try:
        with open(lock) as fh:
            owner = json.load(fh)
    except (OSError, ValueError):
        return None
    start = _proc_start(owner.get("pid", 0))
    return owner if start is not None and start == owner.get("start") else None


def _remove(*paths: str) -> None:
    for path in paths:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def _settle(key: str, java: str) -> None:
    """Promote or delete the part a finished dump left. The lock is
    claimed by renaming it, so one process settles each dump."""
    lock = key + ".lock"
    if not os.path.exists(lock) or _owner(lock) is not None:
        return
    claimed = f"{lock}.{os.getpid()}"
    try:
        os.rename(lock, claimed)
    except FileNotFoundError:
        return  # another process is settling it
    try:
        with open(claimed) as fh:
            dump = json.load(fh)
    except ValueError:
        dump = {}
    try:
        if "classpath" in dump and _probe(java, key, dump["classpath"], dump["heap"]):
            _promote(key)
        else:
            _remove(key + ".part")
    finally:
        _remove(claimed)


def _probe(java: str, key: str, classpath: str, heap: str) -> bool:
    """True when a JVM maps ``<key>.part`` with every region verified."""
    if not os.path.exists(key + ".part"):
        return False
    cmd = [
        java, f"-Xmx{heap}", f"-XX:SharedArchiveFile={key}.part", "-Xshare:on",
        "-XX:+VerifySharedSpaces", f"-XX:ErrorFile={key}.probe-crash.log",
        "-cp", classpath, "-version",
    ]
    try:
        done = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60)
    except (OSError, subprocess.SubprocessError):
        return False
    return done.returncode == 0


def _stat_sig(path: str) -> str:
    st = os.stat(path)
    return f"{st.st_size} {st.st_mtime_ns} {st.st_ino}"


def _promote(key: str) -> None:
    """Make ``<key>.part`` the archive, then delete the other keys' files
    (a key whose dump is still in flight keeps its lock and part)."""
    _publish(key + ".sig", _stat_sig(key + ".part"), exclusive=False)
    os.replace(key + ".part", key + ".jsa")
    ours = os.path.basename(key)
    for name in os.listdir(CACHE_DIR):
        other = name.split(".", 1)[0]
        if other in (ours, "conf"):
            continue
        if _owner(os.path.join(CACHE_DIR, other + ".lock")) is None:
            _remove(os.path.join(CACHE_DIR, name))


def _intact(key: str) -> bool:
    """True when ``<key>.jsa`` is the file that was promoted. Otherwise
    both the archive and its signature are deleted."""
    try:
        with open(key + ".sig") as fh:
            if fh.read() == _stat_sig(key + ".jsa"):
                return True
    except OSError:
        pass
    _remove(key + ".jsa", key + ".sig")
    return False
