"""Python-worker hygiene shared by every task entry point of the package.

Each Spark task starts with ``importlib.invalidate_caches()``
(``pyspark/worker_util.py:setup_spark_files``). Since CPython 3.10
(measured on 3.11) that makes every ``zipimporter`` cached in
``sys.path_importer_cache`` re-read its archive's central directory. A
reused worker holds one such finder per
imported sub-package of ``pyspark.zip`` (~1.3k entries), plus the py4j zip
and the Spark core jar on the worker's ``sys.path`` (~5.4k entries): about
0.25-0.3 s of CPU per task whatever its size, which dominated the sweep's
per-round Arrow jobs.

``trim_import_cache`` drops the finders of Spark's own read-only archives.
The next task's ``invalidate_caches()`` then has nothing to re-read, and an
import that needs a dropped finder rebuilds it cheaply from ``zipimport``'s
directory cache (removing ``sys.path_importer_cache`` entries is documented
as safe). Finders of user archives shipped with ``addPyFile`` /
``--py-files`` are kept, so their invalidation semantics do not change.

Every function the package hands to ``mapInPandas`` and every
``pandas_udf`` body is wrapped in ``task_entry``; tests/test_worker.py
pins that with an AST scan.
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport

# packages Spark itself ships to workers as zip archives
_SPARK_PACKAGES = ("pyspark", "py4j")


def _spark_archives() -> set[str]:
    """Archives the Spark packages were zip-imported from. Taken from the
    loaded modules, not from SPARK_HOME, so it also holds on executors that
    have no SPARK_HOME; empty when they come from an installed tree."""
    out = set()
    for name in _SPARK_PACKAGES:
        archive = getattr(getattr(sys.modules.get(name), "__loader__", None), "archive", None)
        if archive:
            out.add(archive)
    return out


def trim_import_cache() -> int:
    """Drop the cached zipimporters of Spark's archives (the pyspark and
    py4j zips and any jar). Returns the number of finders dropped."""
    archives = _spark_archives()
    drop = [key for key, finder in list(sys.path_importer_cache.items())
            if isinstance(finder, zipimport.zipimporter)
            and (finder.archive in archives or finder.archive.endswith(".jar"))]
    for key in drop:
        sys.path_importer_cache.pop(key, None)
    return len(drop)


def task_entry(fn):
    """Decorator for a Python task entry point: trim the worker's import
    cache before the body runs. Keeps ``fn``'s signature and type hints
    (``pandas_udf`` reads them) and its generator-ness (``mapInPandas``)."""
    if inspect.isgeneratorfunction(fn):
        @functools.wraps(fn)
        def gen(*args, **kwargs):
            trim_import_cache()
            yield from fn(*args, **kwargs)
        return gen

    @functools.wraps(fn)
    def call(*args, **kwargs):
        trim_import_cache()
        return fn(*args, **kwargs)
    return call
