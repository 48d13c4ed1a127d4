"""Python worker daemon of the engine's Spark sessions.

Spark starts its Python task workers from a daemon, ``python -m <daemon>
<worker module>``, with its own archives first on ``PYTHONPATH``:
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
spark-core jar.  Workers then import pyspark from the zip, compiled from
source (the zip holds no bytecode), and keep one ``zipimporter`` per package
directory they import from an archive.  PySpark calls
``importlib.invalidate_caches()`` at the start of every task, and that call
makes each zip finder re-read its archive's central directory: about 0.2
cpu-s per task with the 16 finders an ingest worker collects.

This daemon removes Spark's archives from ``sys.path`` when the installed
pyspark and py4j (the driver's own, loaded from ``.pyc``) can be imported
without them and are the versions the archives hold; otherwise ``sys.path``
stays exactly as Spark set it.  It then hands over to
``pyspark.daemon.manager()``, which reads the worker module from
``sys.argv[1]``.  Nothing imports pyspark before the path edit.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

# The packages Spark's archives provide to a worker.
_PACKAGES = ("pyspark", "py4j")
_VERSION = re.compile(rb"""^__version__\b[^=]*=\s*['"]([^'"]+)['"]""", re.M)


def _version(source: bytes) -> bytes | None:
    match = _VERSION.search(source)
    return match and match.group(1)


def _archive_version(archives: list[str], package: str) -> bytes | None:
    """The version of ``package`` in the first archive that holds it."""
    for archive in archives:
        try:
            with zipfile.ZipFile(archive) as zf:
                return _version(zf.read(f"{package}/version.py"))
        except (KeyError, OSError, zipfile.BadZipFile):
            continue
    return None


def _installed_version(path: list[str], package: str) -> bytes | None:
    """The version of the ``package`` an import would find on ``path``."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        source = spec.loader.get_data(
            os.path.join(spec.submodule_search_locations[0], "version.py")
        )
    except OSError:
        return None
    return _version(source)


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the entries that are files under ``spark_home``, or
    ``path`` itself unless every package in ``_PACKAGES`` can be imported
    without them at the version they hold."""
    if not spark_home:
        return path
    home = os.path.join(os.path.realpath(spark_home), "")
    archives = [p for p in path if os.path.isfile(p) and os.path.realpath(p).startswith(home)]
    kept = [p for p in path if p not in archives]
    for package in _PACKAGES:
        version = _archive_version(archives, package)
        if version is None or version != _installed_version(kept, package):
            return path
    return kept


def main() -> None:
    kept = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    # Drop the finders start-up already made for the removed archives too.
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
