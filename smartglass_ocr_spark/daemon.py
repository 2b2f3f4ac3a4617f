"""Python worker daemon that runs tasks without Spark's archives on
``sys.path`` (the ``spark.python.daemon.module`` that
:func:`smartglass_ocr_spark.session.get_spark` sets).

Spark starts the daemon with ``pyspark.zip``, the py4j source zip and
the spark-core jar at the front of ``PYTHONPATH``. On CPython 3.11
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task, and that
makes each cached ``zipimporter`` re-read its whole archive: 0.1–0.2 s
of every task on a 4-vCPU host (BASELINE.md §Per-task set-up). When the
rest of the path holds the same pyspark (the wheel in site-packages)
and a py4j, :func:`strip_spark_archives` takes the archives out of
``sys.path`` and ``sys.path_importer_cache`` before anything imports
pyspark; the stock ``pyspark.daemon.manager()`` then forks workers
that inherit the stripped path. Otherwise the path stays as Spark set
it, so executors without the wheel run the stock daemon unchanged.

Nothing in this module may import pyspark before the strip.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def _zip_version_file(archive: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as zf:
            return zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _package_version_file(path: list[str]) -> bytes | None:
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.submodule_search_locations:
        return None
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def strip_spark_archives(path: list[str], cache: dict) -> bool:
    """Remove Spark's archives (``pyspark.zip``, ``py4j-*.zip``, any
    ``.jar``) from ``path`` and their importers from ``cache``, both in
    place, when the remaining entries find a pyspark whose
    ``version.py`` is byte-equal to the zip's and a py4j. Returns
    whether it stripped; with no ``pyspark.zip`` on ``path`` it is a
    no-op."""
    archives = [e for e in path if _is_spark_archive(e)]
    zips = [e for e in archives if os.path.basename(e) == "pyspark.zip"]
    if not zips:
        return False
    rest = [e for e in path if e not in archives]
    wanted = _zip_version_file(zips[0])
    if (
        wanted is None
        or _package_version_file(rest) != wanted
        or PathFinder.find_spec("py4j", rest) is None
    ):
        return False
    path[:] = rest
    prefixes = tuple(a + os.sep for a in archives)
    for key in [k for k in cache if k in archives or k.startswith(prefixes)]:
        del cache[key]
    return True


def main() -> None:
    strip_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
