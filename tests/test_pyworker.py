"""The ``sqlrs_spark.pyworker`` daemon: ``build_spark`` sessions' Python
workers import the installed pyspark, not Spark's zip archives, so no task
re-reads an archive's directory; the path guard keeps the archives whenever
the installed pyspark cannot stand in for them."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from sqlrs_spark.pyworker import without_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_tasks_import_installed_pyspark(spark):
    """A task imports pyspark from disk and holds no zipimporter.  Under
    Spark's own daemon it imports pyspark.zip and holds 16 zipimporters,
    each re-read on every task by invalidate_caches()."""

    def _worker_imports(_):
        import zipimport

        import pyspark

        caches = sys.path_importer_cache.values()
        zips = sum(isinstance(v, zipimport.zipimporter) for v in caches)
        return pyspark.__file__, os.path.isfile(pyspark.__file__), zips

    (path, on_disk, zips), = spark.sparkContext.parallelize([0], 1).map(_worker_imports).collect()
    assert on_disk and ".zip" not in path, path
    assert zips == 0


def _layout(tmp_path, zip_version="4.1.2", installed_version="4.1.2", py4j=True):
    site, lib = tmp_path / "site", tmp_path / "lib"
    lib.mkdir()
    if installed_version is not None:
        (site / "pyspark").mkdir(parents=True)
        (site / "pyspark" / "version.py").write_text(f"__version__: str = '{installed_version}'\n")
    if py4j:
        (site / "py4j").mkdir(parents=True)
        (site / "py4j" / "__init__.py").write_text("")
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", f'__version__: str = "{zip_version}"\n')
    with zipfile.ZipFile(lib / "py4j-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    (lib / "spark-core.jar").write_bytes(b"PK")
    archives = [str(lib / n) for n in ("pyspark.zip", "py4j-src.zip", "spark-core.jar")]
    rest = [str(tmp_path), str(tmp_path / "missing"), str(site)]
    return archives + rest, rest


def test_without_archives_drops_them_when_versions_match(tmp_path):
    path, rest = _layout(tmp_path)
    assert without_archives(path) == rest


def test_without_archives_keeps_path_when_installed_cannot_stand_in(tmp_path):
    for i, kw in enumerate(
        [dict(zip_version="4.0.0"), dict(installed_version=None), dict(py4j=False)]
    ):
        d = tmp_path / str(i)
        d.mkdir()
        path, _ = _layout(d, **kw)
        assert without_archives(path) == path, kw
    # no pyspark.zip among the entries: nothing to stand in for
    (tmp_path / "bare").mkdir()
    _, rest = _layout(tmp_path / "bare")
    assert without_archives(rest) == rest


def test_build_spark_session_from_foreign_cwd_runs_python_udf(tmp_path):
    """A session built from a cwd outside the repo with no PYTHONPATH still
    starts the daemon: build_spark puts the repo on the workers' path."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from sqlrs_spark.session import build_spark

spark = build_spark("foreign_cwd", cores=1, extra_conf={{"spark.driver.memory": "1g"}})

def f(it):
    import pyspark
    for pdf in it:
        yield pdf.assign(src=pyspark.__file__)

rows = spark.range(8).mapInPandas(f, "id long, src string").collect()
assert [r.id for r in rows] == list(range(8)), rows
print(rows[0].src)
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    src = proc.stdout.strip().splitlines()[-1]
    assert os.path.isfile(src) and ".zip" not in src, src
