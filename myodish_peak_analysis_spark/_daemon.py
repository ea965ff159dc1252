"""Python worker daemon that imports pyspark from an installed copy.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module. Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip
and the spark-core jar at the front of the workers' ``PYTHONPATH``, so
a worker imports pyspark from the zip. pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
on every task, and each zip importer then re-reads its archive
directory: ~0.2 s of worker CPU per task before any work.

When an installed (non-zip) pyspark of the same version as
``pyspark.zip``, and a py4j, are on the path, this module drops Spark's
``.zip`` and ``.jar`` entries before anything imports pyspark;
otherwise (a host with only the zip, or another pyspark version) it
leaves ``sys.path`` as it is.

The package ``__init__`` is lazy, so ``python -m`` of this module
imports no pyspark before the path is settled.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""", re.M)


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _spark_archive(entry: str, lib: str) -> bool:
    """A jar, or a zip in the directory of ``pyspark.zip`` (py4j's): the
    archives Spark adds. An interpreter's own ``pythonXY.zip`` stays."""
    return entry.endswith(".jar") or (entry.endswith(".zip") and os.path.dirname(entry) == lib)


def worker_path(path: list[str], find_spec=PathFinder.find_spec) -> list[str]:
    """``path`` without Spark's ``.zip``/``.jar`` entries if ``find_spec``
    (``(name, path) -> ModuleSpec | None``) finds pyspark and py4j on
    the stripped path and that pyspark's ``version.py`` declares the
    same ``__version__`` as the ``pyspark.zip`` on ``path``; otherwise
    ``path`` itself."""
    zips = [e for e in path if os.path.basename(e) == "pyspark.zip"]
    if not zips:
        return path
    kept = [e for e in path if not _spark_archive(e, os.path.dirname(zips[0]))]
    spec = find_spec("pyspark", kept)
    if spec is None or not spec.submodule_search_locations or find_spec("py4j", kept) is None:
        return path
    try:
        with zipfile.ZipFile(zips[0]) as z:
            zipped = _version(z.read("pyspark/version.py").decode())
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            installed = _version(f.read())
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return kept if zipped is not None and zipped == installed else path


def main() -> None:
    path = worker_path(sys.path)
    if path is not sys.path:
        sys.path[:] = path
        sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
