"""PySpark worker daemon that keeps archives off the workers' import path.

Every Python task runs PySpark's ``setup_spark_files``, which calls
``importlib.invalidate_caches()``. Before CPython 3.13 that call makes each
cached ``zipimporter`` re-read its archive's central directory at once, so
every task re-reads ``pyspark.zip``, the py4j zip and the ``spark-core`` jar
that Spark puts on the worker's ``sys.path``: a fixed ~0.2 s per task.
CPython 3.13 defers that reload to the archive's next lookup.

When the same pyspark is also installed as a directory, the archives add
nothing, so this daemon drops them from ``sys.path`` and the importer cache
and then runs ``pyspark.daemon.manager()``, whose forked workers inherit the
shorter path. Otherwise the path is left as it is. ``get_spark`` selects the
daemon (``spark.python.daemon.module``) on local masters only: on a cluster,
``--py-files`` archives are added per task, after the daemon has started.
Only the standard library is imported before the fork.
"""

from __future__ import annotations

import re
import sys
import zipfile
import zipimport
from importlib.machinery import PathFinder

_ARCHIVES = (".zip", ".jar")
_VERSION = re.compile(r"__version__\b[^=]*=\s*['\"]([^'\"]+)")


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archive_version(path: list[str]) -> str | None:
    """``__version__`` of the first archive on ``path`` holding pyspark."""
    for p in path:
        if p.endswith(_ARCHIVES) and zipfile.is_zipfile(p):
            with zipfile.ZipFile(p) as z:
                if "pyspark/version.py" in z.namelist():
                    return _version(z.read("pyspark/version.py").decode())
    return None


def strip_archives(path: list[str], cache: dict) -> bool:
    """Remove archive entries from ``path`` and zipimporters from ``cache``
    if pyspark and py4j still resolve from directories and that pyspark's
    version equals the archive's. Returns whether anything was removed."""
    kept = [p for p in path if not p.endswith(_ARCHIVES)]
    if len(kept) == len(path) or PathFinder.find_spec("py4j", kept) is None:
        return False
    spec = PathFinder.find_spec("pyspark", kept)
    if spec is None or not spec.submodule_search_locations:
        return False
    try:
        with open(f"{spec.submodule_search_locations[0]}/version.py") as f:
            local = _version(f.read())
    except OSError:
        return False
    if local is None or local != _archive_version(path):
        return False
    path[:] = kept
    for key in [k for k, v in cache.items()
                if isinstance(v, zipimport.zipimporter)]:
        del cache[key]
    return True


if __name__ == "__main__":
    strip_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()
