"""The one prologue every Python function the engine ships to Spark's
Python workers runs first, and the one place those functions are made
self-contained for the workers.

Why a prologue: PySpark's worker calls ``importlib.invalidate_caches()``
at the start of every task (``worker_util.setup_spark_files``). On
CPython 3.10–3.12 that makes each cached ``zipimport.zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory. A
worker holds one per package it imported from ``pyspark.zip`` (16 in a
PySpark 4.1 worker, 1,328 directory entries each), so every task waits
about 0.2 s before its function runs (0.19–0.24 s timed inside a
worker, CPython 3.11.7, 4-core local). CPython 3.13 made the
invalidation lazy.

``trim_zip_importers`` drops those finders from the cache, so the next
task's invalidation re-reads no archive. The cache is a documented dict
that the import system refills on demand: a later import that needs a
dropped finder rebuilds it through ``sys.path_hooks`` from
``zipimport._zip_directory_cache``, which the trim leaves filled, so the
rebuild reads no archive either. The trim runs when a wrapped call
starts and again when it ends (for a call that returns an iterator, when
the iteration ends), so the finders a function's own imports re-create
are gone before the worker's next task: a failed import, which walks
all of ``sys.path``, re-creates those of ``pyspark.zip``, py4j's zip and
the spark-core jar. A freshly forked worker's first task still pays the
cost once, because the invalidation runs before any engine code.

Each trim is skipped when no finder was added since the last one, so a
per-row function (a scalar ``udf`` body, a UDTF ``eval``) scans the
cache about once per task, not once per row. The check is O(1): the
import system only appends to ``sys.path_importer_cache``, so a new
finder changes its size or its last key. The record of the last trim
lives in this module's globals, which ship by value with whatever the
driver held, so it also names the cache object it saw (the driver's is
not the worker's): each task's first call scans.

``worker_entry`` is the decorator that routes a function through the
prologue. It wraps every function the engine hands to ``mapInPandas``,
``applyInPandas``, ``applyInPandasWithState``, ``pandas_udf``/``udf``,
an RDD transformation or a Python data source reader
(``tests/test_pyworker.py`` lints that none is missed).

Shipping: those functions call module-level helpers, which cloudpickle
would pickle by reference to ``pyetl_spark...``, importable on a worker
only when the repo happens to be on its ``PYTHONPATH`` (true in pytest
runs from the repo, false when a driver imports ``__spark_entry__`` from
elsewhere and on any cluster without the package installed).
``worker_entry`` therefore registers the decorated function's module,
and this one, for by-value pickling: tasks carry the code they run. The
registration must use pyspark's vendored cloudpickle — the workers
deserialize with ``pyspark.serializers``, which does not see the
standalone package's registry.
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport

#: (id, size, last key) of ``sys.path_importer_cache`` right after the
#: last trim, None before the first
_TRIMMED_AT = None


def trim_zip_importers() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``;
    other finders stay."""
    cache = sys.path_importer_cache
    for path in [
        p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)
    ]:
        del cache[path]


def _cache_mark():
    cache = sys.path_importer_cache
    return id(cache), len(cache), next(reversed(cache), None)


def _trim_if_added() -> None:
    """Trim unless no finder was added since the last trim."""
    global _TRIMMED_AT
    if _cache_mark() != _TRIMMED_AT:
        trim_zip_importers()
        _TRIMMED_AT = _cache_mark()


def _trim_when_done(it):
    try:
        yield from it
    finally:
        _trim_if_added()


def worker_entry(fn):
    """Decorator for a function that runs on a Python worker: each call
    trims the worker's zip importers before and after it runs, and the
    function's module ships by value with it.

    The wrapper keeps ``fn``'s name, annotations and signature, so
    ``pandas_udf`` still infers its eval type from the type hints and
    ``applyInPandas`` still sees whether ``fn`` takes the group key (the
    worker reads the argument count with ``inspect.getfullargspec``,
    which honours ``__signature__`` but not ``__wrapped__``)."""
    from pyspark import cloudpickle

    for name in (__name__, fn.__module__):
        cloudpickle.register_pickle_by_value(sys.modules[name])

    @functools.wraps(fn)
    def run(*args, **kwargs):
        _trim_if_added()
        out = fn(*args, **kwargs)
        if hasattr(out, "__next__"):  # an iterator: trim when it ends
            return _trim_when_done(out)
        _trim_if_added()
        return out

    run.__signature__ = inspect.signature(fn)
    return run
