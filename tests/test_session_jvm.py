"""``build_spark`` starts the driver JVM from a class-data-sharing archive
(``sqlrs_spark.jvm_archive``) and falls back to a plain launch whenever
the archive cannot be trusted.  Each launch runs in a subprocess of its
own, against an archive directory of its own, so the session fixture's
JVM and the checkout's archive are never touched."""

from __future__ import annotations

import fcntl
import json
import os
import subprocess
import sys

import pytest

from sqlrs_spark import jvm_archive

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: archive dir, extraJavaOptions; prints one JSON line, then, when
# asked to, keeps its JVM until stdin closes
_LAUNCH = r"""
import json, os, sys
sys.path.insert(0, os.environ["SQLRS_ROOT"])
from sqlrs_spark import jvm_archive
jvm_archive.ARCHIVE_DIR = sys.argv[1]
from pyspark import SparkContext
from sqlrs_spark.session import build_spark
extra = {"spark.driver.memory": "1g"}
if sys.argv[2]:
    extra["spark.driver.extraJavaOptions"] = sys.argv[2]
spark = build_spark("jvm-archive-test", cores=2, extra_conf=extra)
conf = spark.sparkContext.getConf()
with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as f:
    mapped = sorted({l.split()[-1] for l in f if l.rstrip().endswith(".jsa")})
print(json.dumps({
    "rows": spark.sql("select count(*) from range(10)").collect()[0][0],
    "options": conf.get("spark.driver.extraJavaOptions", ""),
    "probe_conf": conf.get("spark.sqlrs.probe", None),
    "probe_property": spark._jvm.System.getProperty("sqlrs.probe"),
    "mapped": mapped,
}), flush=True)
if len(sys.argv) > 3:
    sys.stdin.read()
"""


def _env(**extra: str) -> dict[str, str]:
    return {**os.environ, "SQLRS_ROOT": ROOT, **extra}


def _launch(archive_dir, java_options: str = "", **env: str) -> dict:
    r = subprocess.run(
        [sys.executable, "-c", _LAUNCH, str(archive_dir), java_options],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=_env(**env),
        timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    (line,) = r.stdout.splitlines()  # nothing from the JVM reaches stdout
    return json.loads(line)


def _stem(monkeypatch, archive_dir) -> str:
    monkeypatch.setattr(jvm_archive, "ARCHIVE_DIR", str(archive_dir))
    stem = jvm_archive.current_stem()
    assert stem is not None, "this host launches every JVM plain"
    return stem


def _small_archive(tmp_path) -> tuple[str, str]:
    """A real static archive of the JDK's default class list, and the
    classpath it was dumped with (an empty directory): ~14 MB in 1 s."""
    path, classpath = str(tmp_path / "small.jsa"), str(tmp_path / "cp")
    os.mkdir(classpath)
    subprocess.run(
        [jvm_archive._java(), "-Xshare:dump", f"-XX:SharedArchiveFile={path}", "-cp", classpath],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True,
    )
    return path, classpath


def test_completeness_check_rejects_a_truncated_archive(tmp_path):
    """The guard that decides whether a dump is promoted: a JVM with the
    dump's classpath starts from the full archive and refuses a truncated
    one."""
    good, classpath = _small_archive(tmp_path)
    cut = str(tmp_path / "cut.jsa")
    with open(good, "rb") as f, open(cut, "wb") as g:
        g.write(f.read()[: os.path.getsize(good) // 2])
    java = jvm_archive._java()
    assert jvm_archive.complete(java, good, classpath)
    assert not jvm_archive.complete(java, cut, classpath)


def test_corrupt_archive_still_runs_a_query(tmp_path, monkeypatch):
    """An archive of the recorded size but damaged content is passed, and
    the JVM refuses it quietly and starts plain."""
    stem = _stem(monkeypatch, tmp_path / "cds")
    path = f"{stem}-4096.jsa"
    with open(path, "wb") as f:
        f.write(os.urandom(4096))
    out = _launch(tmp_path / "cds")
    assert out["rows"] == 10
    assert f"-XX:SharedArchiveFile={path}" in out["options"]
    assert out["mapped"] == []  # not even the JDK's base archive


def test_truncated_archive_is_never_passed(tmp_path, monkeypatch):
    """An archive cut to half the size its name records is deleted, not
    passed.  The test holds the key's lock, so the launch would not record
    a new archive either: it starts plain."""
    good, _ = _small_archive(tmp_path)
    stem = _stem(monkeypatch, tmp_path / "cds")
    cut = f"{stem}-{os.path.getsize(good)}.jsa"
    with open(good, "rb") as f, open(cut, "wb") as g:
        g.write(f.read()[: os.path.getsize(good) // 2])
    with open(stem + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        assert jvm_archive._plan({}) is None
        assert not os.path.exists(cut)


def test_recording_deletes_other_keys_archives(tmp_path, monkeypatch):
    """Before a key is recorded, the archives of other keys (a moved
    checkout, another JDK or jar set) and a killed process's temp files
    go; a launch that maps its archive deletes nothing."""
    stem = _stem(monkeypatch, tmp_path / "cds")
    other = str(tmp_path / "cds" / "0123456789abcdef-3.jsa")
    killed = f"{stem}.999999.tmp"
    for path in (other, killed):
        with open(path, "wb") as f:
            f.write(b"old")
    flags, (fd, _, _) = jvm_archive._plan({})
    os.close(fd)
    assert flags == [f"-XX:DumpLoadedClassList={stem}.{os.getpid()}.classlist"]
    assert not os.path.exists(other) and not os.path.exists(killed)
    mine = f"{stem}-3.jsa"
    for path in (other, mine):
        with open(path, "wb") as f:
            f.write(b"new")
    assert jvm_archive._plan({})[0][0] == f"-XX:SharedArchiveFile={mine}"
    assert os.path.exists(other)


def test_conf_dir_with_spark_defaults_is_kept(tmp_path, monkeypatch):
    """A conf directory holding a file Spark reads stays in effect, and the
    JVM gets no archive."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.sqlrs.probe  from-defaults\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setattr(jvm_archive, "ARCHIVE_DIR", str(tmp_path / "cds"))
    assert jvm_archive.current_stem() is None
    out = _launch(tmp_path / "cds", SPARK_CONF_DIR=str(conf))
    assert out["probe_conf"] == "from-defaults"
    assert "SharedArchiveFile" not in out["options"]
    assert "DumpLoadedClassList" not in out["options"]
    assert not os.path.exists(tmp_path / "cds")


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """One archive end to end: a first launch records its classes, and its
    process dumps them at exit; a second launch starts while the first JVM
    is still up; a third comes after the dump."""
    cds = tmp_path_factory.mktemp("jvm_archive") / "cds"
    first = subprocess.Popen(
        [sys.executable, "-c", _LAUNCH, str(cds), "-Dsqlrs.probe=kept", "wait"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env=_env(),
    )
    try:
        line = first.stdout.readline()
        assert line, first.stderr.read()[-3000:]
        during = _launch(cds)
        first.stdin.close()  # the first JVM exits, then its process dumps
        assert first.wait(timeout=300) == 0, first.stderr.read()[-3000:]
        after = _launch(cds, "-Dsqlrs.probe=kept")
    finally:
        if first.poll() is None:
            first.kill()
            first.wait()
    yield {"first": json.loads(line), "during": during, "after": after, "dir": cds}
    for name in os.listdir(cds):
        if name.endswith(".jsa"):
            os.remove(cds / name)


def test_second_launch_while_dumping_starts_plain(dumped):
    assert "DumpLoadedClassList" in dumped["first"]["options"]
    assert "SharedArchiveFile" not in dumped["during"]["options"]
    assert "DumpLoadedClassList" not in dumped["during"]["options"]
    assert dumped["during"]["rows"] == 10


def test_dump_is_promoted_and_mapped(dumped):
    """The dump is promoted under a name that records its size, and the
    next launch maps it; no class list or temp file is left behind."""
    (archive,) = [n for n in os.listdir(dumped["dir"]) if n.endswith(".jsa")]
    path = str(dumped["dir"] / archive)
    assert archive.endswith(f"-{os.path.getsize(path)}.jsa")
    assert sorted(os.listdir(dumped["dir"])) == sorted([archive, archive.split("-")[0] + ".lock", "conf"])
    assert path in dumped["after"]["mapped"]
    assert dumped["after"]["rows"] == 10


def test_caller_java_options_survive_the_merge(dumped):
    for run in ("first", "after"):
        assert dumped[run]["probe_property"] == "kept"
        assert "-Dsqlrs.probe=kept" in dumped[run]["options"]
