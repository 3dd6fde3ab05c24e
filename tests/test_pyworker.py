"""The Python-worker prologue (``operators/pyworker.py``).

- ``trim_zip_importers`` drops cached zip finders, keeps the others, and
  later imports from the zip still work without re-reading its directory.
- ``worker_entry`` trims before and after each call (after the iteration
  for a call that returns an iterator), and only when a finder was added
  since the last trim.
- In a real worker, once routed tasks have run, a task finds no zip
  finder left for ``importlib.invalidate_caches()`` to re-read, also
  after a task whose kernel failed an import (multimodal's PIL lookup).
- Lint (fast lane): every function the engine hands to a Python worker
  goes through ``worker_entry``, and only ``pyworker`` registers modules
  for by-value pickling.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import os
import sys
import typing
import zipfile
import zipimport

import pandas as pd
import pytest

from pyetl_spark.operators import pyworker
from pyetl_spark.operators.pyworker import trim_zip_importers, worker_entry

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_finders() -> list[str]:
    return [
        p
        for p, f in sys.path_importer_cache.items()
        if isinstance(f, zipimport.zipimporter)
    ]


@pytest.mark.fast
def test_trim_drops_zip_finders_and_imports_still_work(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpw_pkg/__init__.py", "")
        z.writestr("zpw_pkg/first.py", "VALUE = 1\n")
        z.writestr("zpw_pkg/second.py", "VALUE = 2\n")
        z.writestr("zpw_top.py", "VALUE = 3\n")
    names = ("zpw_pkg", "zpw_pkg.first", "zpw_pkg.second", "zpw_top")
    sys.path.insert(0, archive)
    try:
        importlib.import_module("zpw_pkg.first")
        assert archive in _zip_finders()
        others = {
            p: f
            for p, f in sys.path_importer_cache.items()
            if not isinstance(f, zipimport.zipimporter)
        }

        # every zip finder re-reads its archive on invalidation
        reads = []
        real_read = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return real_read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting_read)
        importlib.invalidate_caches()
        assert archive in reads

        trim_zip_importers()
        assert _zip_finders() == []
        for p, f in others.items():
            assert sys.path_importer_cache.get(p) is f

        reads.clear()
        importlib.invalidate_caches()
        assert importlib.import_module("zpw_pkg.second").VALUE == 2
        assert importlib.import_module("zpw_top").VALUE == 3
        # the rebuilt finders came from zipimport's directory cache
        assert reads == []
        assert archive in _zip_finders()
    finally:
        sys.path.remove(archive)
        for name in names:
            sys.modules.pop(name, None)
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]
        zipimport._zip_directory_cache.pop(archive, None)


@pytest.mark.fast
def test_worker_entry_keeps_signature_and_hints():
    def grouped(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    wrapped = worker_entry(grouped)
    assert inspect.getfullargspec(wrapped).args == ["key", "pdf"]
    assert typing.get_type_hints(wrapped) == typing.get_type_hints(grouped)
    assert wrapped((1,), "x") == "x"


@pytest.mark.fast
def test_trims_once_when_no_finder_is_added(tmp_path, monkeypatch):
    """10,000 wrapped calls with no import between them trim at most
    once; a finder added after them is trimmed by the next call's end,
    and by a generator's end of iteration."""
    trims = []
    real_trim = pyworker.trim_zip_importers

    def counting_trim():
        trims.append(1)
        real_trim()

    monkeypatch.setattr(pyworker, "trim_zip_importers", counting_trim)
    row = worker_entry(lambda x: x + 1)
    assert sum(row(i) for i in range(10_000)) == 50_005_000
    assert len(trims) <= 1

    archive = str(tmp_path / "marker.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpw_marker.py", "")

    def add_finder():
        sys.path_importer_cache[archive] = zipimport.zipimporter(archive)

    try:
        trims.clear()
        worker_entry(add_finder)()
        assert len(trims) == 1 and archive not in sys.path_importer_cache

        @worker_entry
        def batches(n):
            for i in range(n):
                if i == 2:
                    add_finder()
                yield i

        trims.clear()
        out = batches(4)
        assert len(trims) == 0
        assert list(out) == [0, 1, 2, 3]
        assert len(trims) == 1 and archive not in sys.path_importer_cache
    finally:
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def _finders_at_entry(spark, work=lambda: None) -> dict[int, list[int]]:
    """Twelve 1-task jobs (enough for one of the local daemon's idle
    workers to serve two or three of them), each running ``work`` in a
    routed function; per worker pid, the zip finders each of its tasks
    found cached when its function started, i.e. what that task's
    ``importlib.invalidate_caches()`` re-read."""

    @worker_entry
    def body(batches, n_at_entry):
        for _ in batches:
            pass
        work()
        yield pd.DataFrame({"pid": [os.getpid()], "n": [n_at_entry]})

    def probe(batches):
        n = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return body(batches, n)

    df = spark.range(4).repartition(1)
    counts: dict[int, list[int]] = {}
    for _ in range(12):
        pid, n = df.mapInPandas(probe, "pid long, n long").collect()[0]
        counts.setdefault(pid, []).append(n)
    return counts


def test_warm_worker_task_finds_no_zip_finder(spark):
    """A worker's first task re-reads every finder: the invalidation
    runs before any engine code. Its routed function trims them, and
    trims again when its iteration ends, after the task's own
    first-time imports re-created the finders of the ``sys.path``
    entries searched before each module was found (pyspark.zip, py4j's
    zip and the spark-core jar with PySpark 4.1); so from its second
    task on the worker re-reads none."""
    counts = _finders_at_entry(spark)
    warm = [ns for ns in counts.values() if len(ns) >= 2]
    assert warm, f"no Python worker ran two tasks: {counts}"
    for ns in warm:
        assert ns[1:] == [0] * len(ns[1:]), counts


def test_task_after_a_multimodal_task_finds_no_zip_finder(spark):
    """Each task decodes a payload the way the multimodal kernels do.
    ``multimodal`` ships by value, so every task repeats the failed
    ``import PIL``, which walks ``sys.path`` and re-creates the zip
    finders of its roots after the prologue's trim. The trim at the
    end of the routed function's iteration drops them: every task
    after a worker's first finds 0 zip finders at entry."""
    from pyetl_spark.operators import multimodal
    from pyetl_spark.operators.multimodal import _decode_image

    media = multimodal.attach_fake_media(
        spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    )
    multimodal.extract_features(media).collect()  # ships multimodal by value
    counts = _finders_at_entry(
        spark, lambda: _decode_image(b"payload", True)
    )
    warm = [ns for ns in counts.values() if len(ns) >= 2]
    assert warm, f"no Python worker ran two tasks: {counts}"
    for ns in warm:
        assert ns[1:] == [0] * len(ns[1:]), counts


# ------------------------------------------------------------------ lint

#: DataFrame / GroupedData methods whose first argument runs on a worker
_FRAME_FNS = {
    "mapInPandas",
    "mapInArrow",
    "applyInPandas",
    "applyInArrow",
    "applyInPandasWithState",
}
#: RDD methods that take worker-side functions
_RDD_FNS = {
    "map", "flatMap", "filter", "mapPartitions", "mapPartitionsWithIndex",
    "foreach", "foreachPartition", "reduce", "treeReduce", "fold",
    "aggregate", "treeAggregate", "reduceByKey", "combineByKey",
    "aggregateByKey", "mapValues", "flatMapValues", "keyBy", "sortBy",
    "groupBy",
}
_UDF_DECORATORS = {"pandas_udf", "udf", "arrow_udf"}
_UDTF_DECORATORS = {"udtf", "arrow_udtf"}
_READER_BASES = {
    "DataSourceReader",
    "DataSourceStreamReader",
    "SimpleDataSourceStreamReader",
}
_READER_METHODS = {"read", "readBetweenOffsets"}


def _engine_files() -> list[str]:
    out = [os.path.join(_REPO, f) for f in ("bench.py", "__spark_entry__.py")]
    for root, _, files in os.walk(os.path.join(_REPO, "pyetl_spark")):
        out += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _name(node) -> str | None:
    """Trailing name of ``f``, ``F.f``, ``f(...)`` or ``F.f(...)``."""
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return None


def _is_entry(node) -> bool:
    return _name(node) == "worker_entry"


def _on_rdd(node) -> bool:
    """Whether a method-call receiver chain passes through ``.rdd`` or
    ``parallelize(...)``."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == "rdd":
            return True
        if isinstance(node, ast.Call) and _name(node) == "parallelize":
            return True
        if isinstance(node, ast.Call) and _name(node) == "toDF":
            return False  # back to a DataFrame
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


class _Lint(ast.NodeVisitor):
    def __init__(self, tree, path):
        self.path = os.path.relpath(path, _REPO)
        self.scopes = [tree]
        self.bad: list[str] = []

    def _defs(self, name):
        """Definitions of ``name`` in the innermost scope that has one."""
        for scope in reversed(self.scopes):
            found = [
                n
                for n in ast.walk(scope)
                if (
                    isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and n.name == name
                )
                or (
                    isinstance(n, ast.Assign)
                    and any(
                        isinstance(t, ast.Name) and t.id == name
                        for t in n.targets
                    )
                )
            ]
            if found:
                return found
        return []

    def _routed(self, node, depth=0) -> bool:
        if _is_entry(node):
            return True
        if depth > 3:
            return False
        if isinstance(node, ast.Name):
            defs = self._defs(node.id)
            return bool(defs) and all(
                any(_is_entry(d) for d in n.decorator_list)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                else self._routed(n.value, depth + 1)
                for n in defs
            )
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            # a local factory: every value it returns must be routed
            factories = [
                n
                for n in self._defs(node.func.id)
                if isinstance(n, ast.FunctionDef)
            ]
            returns = [
                r.value
                for f in factories
                for r in ast.walk(f)
                if isinstance(r, ast.Return) and r.value is not None
            ]
            saved = self.scopes
            self.scopes = saved + factories
            try:
                return bool(returns) and all(
                    self._routed(r, depth + 1) for r in returns
                )
            finally:
                self.scopes = saved
        return False

    def _flag(self, node, what):
        self.bad.append(f"{self.path}:{node.lineno} {what}")

    def _visit_scope(self, node):
        self.scopes.append(node)
        self.generic_visit(node)
        self.scopes.pop()

    def visit_FunctionDef(self, node):
        decos = node.decorator_list
        for i, d in enumerate(decos):
            if _name(d) in _UDF_DECORATORS and not any(
                _is_entry(x) for x in decos[i + 1:]
            ):
                self._flag(node, f"@{_name(d)} {node.name} without @worker_entry")
        self._visit_scope(node)

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_ClassDef(self, node):
        udtf = any(_name(d) in _UDTF_DECORATORS for d in node.decorator_list)
        reader = any(_name(b) in _READER_BASES for b in node.bases)
        methods = {"eval"} if udtf else _READER_METHODS if reader else set()
        for f in node.body:
            if (
                isinstance(f, ast.FunctionDef)
                and f.name in methods
                and not any(_is_entry(d) for d in f.decorator_list)
            ):
                self._flag(f, f"{node.name}.{f.name} without @worker_entry")
        self._visit_scope(node)

    def visit_Call(self, node):
        name = _name(node)
        if isinstance(node.func, ast.Attribute) and name in _FRAME_FNS:
            fns = node.args[:1] or [
                k.value for k in node.keywords if k.arg == "func"
            ]
        elif name in _UDF_DECORATORS and node.args and not isinstance(
            node.args[0], ast.Constant
        ):
            fns = node.args[:1]  # udf(fn, ...) called, not decorating
        elif (
            isinstance(node.func, ast.Attribute)
            and name in _RDD_FNS
            and _on_rdd(node.func.value)
        ):
            fns = [
                a
                for a in node.args
                if isinstance(a, (ast.Lambda, ast.Name, ast.Call))
            ]
        else:
            fns = []
        for fn in fns:
            if not self._routed(fn):
                self._flag(node, f"{name}({ast.unparse(fn)[:40]}) not routed")
        self.generic_visit(node)


def _lint(paths):
    bad = []
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        lint = _Lint(tree, path)
        lint.visit(tree)
        bad += lint.bad
    return bad


@pytest.mark.fast
def test_every_worker_function_goes_through_the_prologue():
    assert _lint(_engine_files()) == []


@pytest.mark.fast
def test_lint_sees_an_unrouted_kernel(tmp_path):
    src = tmp_path / "mod.py"
    src.write_text(
        "def op(df):\n"
        "    def run(batches):\n"
        "        yield from batches\n"
        "    return df.mapInPandas(run, 'x long').rdd.map(lambda r: r)\n"
    )
    assert len(_lint([str(src)])) == 2


@pytest.mark.fast
def test_only_pyworker_registers_by_value_pickling():
    bad = []
    for path in _engine_files():
        if path.endswith(os.path.join("operators", "pyworker.py")):
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.FunctionDef)
                and n.name == "_ship_module_by_value"
            ) or (
                isinstance(n, ast.Call)
                and _name(n) == "register_pickle_by_value"
            ):
                bad.append(f"{os.path.relpath(path, _REPO)}:{n.lineno}")
    assert bad == []
