"""Python worker daemon without Spark's own archives on `sys.path`.

Spark starts its Python daemon with `pyspark.zip`, the py4j source zip and
the spark-core jar on `PYTHONPATH`. Every task then calls
`importlib.invalidate_caches()` (`pyspark/worker_util.py::setup_spark_files`),
and on Python 3.11 that makes every cached `zipimporter` re-read its
archive's directory: about 0.2 s of CPU per task before the task does any
work. When an installed pyspark of the same version and an installed py4j
are importable, this module drops those archives from `sys.path` (and their
cached importers), then runs `pyspark.daemon`, so the forked workers import
pyspark from the installed copy and hold no archive importer. Otherwise
`sys.path` is left exactly as it was.

`session.get_spark` names this module in `spark.python.daemon.module`. It
must import nothing that imports pyspark before the path is edited.
"""

from __future__ import annotations

import os
import re
import sys
from importlib.machinery import PathFinder

_VERSION = re.compile(rb"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _is_spark_archive(entry: str) -> bool:
    base = os.path.basename(entry)
    return base.endswith(".jar") or (
        base.endswith(".zip") and base.startswith(("pyspark", "py4j")))


def _pyspark_version(spec) -> bytes | None:
    # get_data, not open(): the archive copy lives inside a zip
    path = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        m = _VERSION.search(spec.loader.get_data(path))
    except OSError:
        return None
    return m.group(1) if m else None


def spark_free_path(path: list[str]) -> list[str]:
    """`path` without Spark's archives (`pyspark*`/`py4j*` zips and jars),
    or `path` itself when pyspark or py4j would then not resolve, or the
    pyspark left would differ in version from the archive copy."""
    kept = [p for p in path if not _is_spark_archive(p)]
    if len(kept) == len(path):
        return path
    outside = PathFinder.find_spec("pyspark", kept)
    if outside is None or PathFinder.find_spec("py4j", kept) is None:
        return path
    inside = PathFinder.find_spec("pyspark", [p for p in path if _is_spark_archive(p)])
    if inside is not None:
        version = _pyspark_version(outside)
        if version is None or version != _pyspark_version(inside):
            return path
    return kept


if __name__ == "__main__":
    import runpy

    kept = spark_free_path(sys.path)
    if kept is not sys.path:
        dropped = tuple(p for p in sys.path if p not in kept)
        for key in list(sys.path_importer_cache):
            if key.startswith(dropped):  # an archive, or a package inside one
                del sys.path_importer_cache[key]
        sys.path[:] = kept
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
