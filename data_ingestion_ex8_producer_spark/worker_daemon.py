"""Python worker daemon of the engine's Spark sessions, and the one routine
that takes Spark's archives off a Python worker.

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

Spark's planner workers (Python data-source lookup, write planning and
commit, the streaming sink's epoch commit) start from Spark's default daemon,
which the session's conf does not reach, so they import pyspark and py4j
from the archives.  ``drop_loaded_archives`` takes the archives off such a
worker once both are imported; ``sinks/datum_sink.py`` calls it when a
planner call unpickles it, so the calls that follow in that worker re-read
no archive.  The daemon's own edit goes through the same ``_drop_archives``.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from collections.abc import Callable
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


def _spark_file(spark_home: str) -> Callable[[str], bool]:
    """Whether a path names a file under ``realpath(spark_home)``."""
    home = os.path.join(os.path.realpath(spark_home), "")
    return lambda p: os.path.isfile(p) and os.path.realpath(p).startswith(home)


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the entries that are files under ``spark_home``, or
    ``path`` itself unless every package in ``_PACKAGES`` can be imported
    without them at the version they hold."""
    if not spark_home:
        return path
    is_spark_file = _spark_file(spark_home)
    archives = [p for p in path if is_spark_file(p)]
    kept = [p for p in path if p not in archives]
    for package in _PACKAGES:
        version = _archive_version(archives, package)
        if version is None or version != _installed_version(kept, package):
            return path
    return kept


def _drop_archives(spark_home: str) -> None:
    """Take the files under ``spark_home`` off ``sys.path`` and drop every
    cached finder that reads one: the top-level zip finders and those of
    package directories inside an archive (``…/pyspark.zip/pyspark/sql``)."""
    is_spark_file = _spark_file(spark_home)
    sys.path[:] = [p for p in sys.path if not is_spark_file(p)]
    for entry, finder in list(sys.path_importer_cache.items()):
        archive = getattr(finder, "archive", None)
        if is_spark_file(entry) or (archive and is_spark_file(archive)):
            del sys.path_importer_cache[entry]


def drop_loaded_archives() -> None:
    """Take Spark's archives off a process that has already imported
    ``_PACKAGES`` (from them or not), so its later
    ``importlib.invalidate_caches()`` calls re-read none of them.  A loaded
    module keeps the file it came from, and a submodule not yet imported
    still loads from its package's directory.  Nothing happens while one of
    ``_PACKAGES`` is not imported or ``SPARK_HOME`` is unset."""
    spark_home = os.environ.get("SPARK_HOME")
    if spark_home and all(package in sys.modules for package in _PACKAGES):
        _drop_archives(spark_home)


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME")
    if worker_path(sys.path, spark_home) != sys.path:
        _drop_archives(spark_home)

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
