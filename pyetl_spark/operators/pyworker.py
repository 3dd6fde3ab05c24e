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
rebuild reads no archive either. A freshly forked worker's first task
still pays the cost once, because the invalidation runs before any
engine code. That task's own late imports re-create the finders of the
``sys.path`` roots searched before a module is found (3 with PySpark
4.1), which its second task re-reads; later tasks re-read none.

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


def trim_zip_importers() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache``;
    other finders stay."""
    cache = sys.path_importer_cache
    for path in [
        p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)
    ]:
        del cache[path]


def worker_entry(fn):
    """Decorator for a function that runs on a Python worker: each call
    trims the worker's zip importers first, and the function's module
    ships by value with it.

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
        trim_zip_importers()
        return fn(*args, **kwargs)

    run.__signature__ = inspect.signature(fn)
    return run
