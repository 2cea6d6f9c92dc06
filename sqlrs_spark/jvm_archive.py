"""Start the driver JVM from a class-data-sharing (AppCDS) archive.

A fresh JVM loads and verifies Spark's classes one by one as it first
needs them: on a 4-core host that is ~4 s of ``build_spark``, ~2 s of the
first jobs and ~1 s of the first query.  The JDK can map an archive of
those classes, already parsed and verified, at launch
(``-XX:SharedArchiveFile``).

:func:`launching` wraps one launch of the driver JVM.  The archives live in
:data:`ARCHIVE_DIR`, inside the checkout as ``__pycache__`` is, one per
key: the ``java`` binary (realpath and version) and the JVM's classpath
(the conf directory, and the name, size and mtime of every Spark jar).

- A complete archive is mapped.  Its file name records its size, and a
  copy of another size is deleted, never passed.
- Without one, the launch takes the key's lock and its JVM lists the
  classes it loads (``-XX:DumpLoadedClassList``, at little cost); a
  launch that finds the lock held starts plain.  When the process exits,
  after its JVM has exited by itself, ``java -Xshare:dump`` writes a
  static archive of the listed classes to a temp name (~45 s of one core
  and ~0.9 GB on a 4-core host, 160-230 MB on disk), and the file is
  promoted only if a JVM with the same classpath starts from it.  A
  dynamic dump (``-XX:ArchiveClassesAtExit``) would slow the run that
  makes it by 35-45%; this way the first run is only slower to exit.
- The dump refuses a non-empty directory on the classpath, and Spark puts
  its conf directory there, so the launch points ``SPARK_CONF_DIR`` at an
  empty directory beside the archives.  That happens only when the real
  conf directory holds nothing Spark reads (``*.template`` files only).
  Otherwise, or when anything else adds to the classpath, the JVM starts
  plain, as it would without this module.
- Before a key is recorded, the archives of every other key are deleted:
  a moved or copied checkout, or a changed JDK or jar set, leaves at most
  one archive behind.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
from collections.abc import Iterator

ARCHIVE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "__cds__")
# the recording JVM exits within a second once its stdin closes; a JVM
# still up after this long is killed and nothing is dumped
_EXIT_WAIT_S = 60
# the dump takes ~45 s on a 4-core host; one running longer is killed
_DUMP_WAIT_S = 600
# keeps a refused archive's notice and the dump's hundreds of "Skipping
# ...: Signed JAR" warnings off stdout, where callers print results
_QUIET = ["-Xlog:cds*=off", "-Xlog:cds*=error:stderr"]
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_PREPEND_CLASSES")
_SHARING_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit", "DumpLoadedClassList")


def _java() -> str | None:
    """The ``java`` that ``spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _java_version(java: str) -> str | None:
    """The JDK's runtime version from its ``release`` file, if the JDK was
    built with class-data sharing (it ships its default archive)."""
    home = os.path.dirname(os.path.dirname(java))
    if not os.path.isfile(os.path.join(home, "lib", "server", "classes.jsa")):
        return None
    try:
        with open(os.path.join(home, "release")) as f:
            m = re.search(r'^JAVA_RUNTIME_VERSION="([^"]+)"', f.read(), re.M)
    except OSError:
        return None
    return m.group(1) if m else None


def _reads_conf(conf_dir: str) -> bool:
    """Whether ``conf_dir`` holds a file Spark may read (anything but a template)."""
    try:
        return any(not n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return False
    except OSError:
        return True


def _archive(stem: str) -> str | None:
    """The complete archive ``<stem>-<size>.jsa``; a file of another size is deleted."""
    for path in glob.glob(glob.escape(stem) + "-*.jsa"):
        size = path[len(stem) + 1 : -len(".jsa")]
        try:
            if size.isdigit() and os.path.getsize(path) == int(size):
                return path
            os.remove(path)
        except OSError:
            pass
    return None


def complete(java: str, path: str, classpath: str) -> bool:
    """Whether a JVM with ``classpath`` starts from the archive at ``path``
    (``-Xshare:on`` fails on a truncated, corrupt or mismatched one): 0.2 s."""
    try:
        r = subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={path}", "-cp", classpath,
             "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash", "-version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return r.returncode == 0


def _dump(java: str, classpath: str, classes: str, path: str) -> bool:
    """Write a static archive of the classes listed in ``classes`` to
    ``path``, and whether a JVM with ``classpath`` starts from it."""
    try:
        r = subprocess.run(
            [java, "-Xshare:dump", f"-XX:SharedClassListFile={classes}",
             f"-XX:SharedArchiveFile={path}", "-cp", classpath, *_QUIET],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=_DUMP_WAIT_S,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return r.returncode == 0 and complete(java, path, classpath)


def _lock(path: str) -> int | None:
    """An exclusive lock on ``path``, or None when another process holds it."""
    fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    return fd


def _temps(stem: str) -> tuple[str, str]:
    """This process's class list and temp archive for ``stem``."""
    return f"{stem}.{os.getpid()}.classlist", f"{stem}.{os.getpid()}.tmp"


def _release(stem: str, fd: int) -> None:
    for path in _temps(stem):
        with contextlib.suppress(OSError):
            os.remove(path)
    os.close(fd)


def current_stem() -> str | None:
    """``ARCHIVE_DIR/<key>`` for this environment, where the archive, lock
    and temp names start, with the empty conf directory made; None when
    the JVM must start plain."""
    from pyspark.find_spark_home import _find_spark_home

    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    java = _java()
    version = java and _java_version(java)
    spark_home = _find_spark_home()
    if not version or _reads_conf(os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")):
        return None
    empty = _empty_conf()
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(ARCHIVE_DIR, os.W_OK):
            return None
        jars_dir = os.path.join(spark_home, "jars")
        jars = sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(jars_dir) if e.is_file()
        )
    except OSError:
        return None
    key = hashlib.sha256(json.dumps([java, version, empty, jars]).encode()).hexdigest()
    return os.path.join(ARCHIVE_DIR, key[:16])


def _empty_conf() -> str:
    return os.path.join(ARCHIVE_DIR, "conf")


def _plan(conf: dict[str, str]) -> tuple[list[str], tuple[int, str, str] | None] | None:
    """(JVM flags, the recording's (lock, java, stem) or None), or None to
    launch plain."""
    if any(f in conf.get("spark.driver.extraJavaOptions", "") for f in _SHARING_FLAGS) or (
        "spark.driver.extraClassPath" in conf
    ):
        return None
    stem = current_stem()
    if stem is None:
        return None
    if archive := _archive(stem):
        return [f"-XX:SharedArchiveFile={archive}", *_QUIET], None
    try:
        fd = _lock(stem + ".lock")
    except OSError:
        return None
    if fd is None:  # another process is recording or dumping this key
        return None
    if archive := _archive(stem):  # promoted before the lock was taken
        os.close(fd)
        return [f"-XX:SharedArchiveFile={archive}", *_QUIET], None
    stale = glob.glob(os.path.join(glob.escape(ARCHIVE_DIR), "*.jsa"))
    stale += glob.glob(glob.escape(stem) + ".*.*")  # left by a killed process
    for path in stale:
        if not path.startswith(stem + "-"):
            with contextlib.suppress(OSError):
                os.remove(path)
    return [f"-XX:DumpLoadedClassList={_temps(stem)[0]}"], (fd, _java(), stem)


def _finish(proc: subprocess.Popen, classpath: str, fd: int, java: str, stem: str) -> None:
    """At interpreter exit: let the recording JVM exit, dump the classes it
    listed, promote the archive if it is complete, and release the lock."""
    classes, tmp = _temps(stem)
    try:
        if proc.poll() is None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=_EXIT_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        # a killed or crashed JVM may have left its list cut mid-line
        if proc.returncode == 0 and _dump(java, classpath, classes, tmp):
            os.replace(tmp, f"{stem}-{os.path.getsize(tmp)}.jsa")
    except OSError:
        pass
    finally:
        _release(stem, fd)


@contextlib.contextmanager
def launching(conf: dict[str, str]) -> Iterator[str | None]:
    """Around ``SparkSession.builder.getOrCreate()``: yields the
    ``spark.driver.extraJavaOptions`` to launch with (``conf``'s own
    followed by the archive flags), or None to launch plain.  Only a call
    that launches the JVM gets flags; a running JVM is reused as it is,
    and so is the one ``spark-submit`` started for a Python application
    (``PYSPARK_GATEWAY_PORT``)."""
    from pyspark import SparkContext

    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    plan = _plan(conf) if launches else None
    if plan is None:
        yield None
        return
    flags, recording = plan
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = _empty_conf()
    try:
        yield " ".join([*filter(None, [conf.get("spark.driver.extraJavaOptions")]), *flags])
        if recording:
            # the launcher expanded ``jars/*``; the dump needs the same entries
            classpath = SparkContext._jvm.System.getProperty("java.class.path")
            atexit.register(_finish, SparkContext._gateway.proc, classpath, *recording)
    except BaseException:
        if recording:
            _release(recording[2], recording[0])
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
