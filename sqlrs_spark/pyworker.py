"""Python worker daemon for ``build_spark`` sessions (``spark.python.daemon.module``).

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar at the front
of every Python worker's ``PYTHONPATH``, and each task's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, which on
CPython 3.11 makes every cached ``zipimporter`` re-read its archive's
directory: ~0.2 s per task before any UDF code runs.  When the installed
pyspark can stand in for the zip, this daemon drops the archives from
``sys.path`` and ``sys.path_importer_cache`` before anything imports
pyspark, then runs ``pyspark.daemon.manager()``; forked workers inherit
the clean path.  So neither this module nor ``sqlrs_spark/__init__.py`` may
import pyspark at import time.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__\b[^=]*=\s*["']([^"']+)""")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _first(dirs: list[str], rel: str) -> str | None:
    return next((os.path.join(d, rel) for d in dirs if os.path.isfile(os.path.join(d, rel))), None)


def without_archives(path: list[str]) -> list[str]:
    """``path`` without its archive entries (existing files) when the pyspark
    and py4j on the remaining entries can stand in for them: pyspark's
    ``__version__`` equals the one in ``pyspark.zip``, and py4j is there
    (``$SPARK_HOME/python`` on ``PYTHONPATH`` has pyspark but no py4j).
    Otherwise ``path``."""
    archives = [p for p in path if os.path.isfile(p)]
    rest = [p for p in path if p not in archives]
    zipped = next((p for p in archives if os.path.basename(p) == "pyspark.zip"), None)
    installed = _first(rest, os.path.join("pyspark", "version.py"))
    py4j = _first(rest, os.path.join("py4j", "__init__.py"))
    if zipped is None or installed is None or py4j is None:
        return path
    try:
        with zipfile.ZipFile(zipped) as z:
            want = _version(z.read("pyspark/version.py").decode())
        with open(installed) as f:
            have = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest if want is not None and want == have else path


def main() -> None:
    kept = without_archives(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
