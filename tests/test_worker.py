"""Worker import-cache trim (operators/_worker.py): the helper drops only
Spark's own archive finders, every Python task entry point of the package
goes through it, and a real worker ends a task with none left."""

import ast
import importlib
import pathlib
import sys
import zipfile
import zipimport

import pandas as pd

from leiden_communities_openmp_spark.operators import _worker
from leiden_communities_openmp_spark.operators._worker import task_entry, trim_import_cache

from .conftest import REPO

PKG = pathlib.Path(REPO) / "leiden_communities_openmp_spark"
_TASK_METHODS = {"mapInPandas", "mapInArrow"}


def _write_zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    return str(path)


def test_trim_drops_only_spark_archives(tmp_path, monkeypatch):
    spark_zip = _write_zip(tmp_path / "fakespark.zip", {
        "fakespark_pkg/__init__.py": "",
        "fakespark_pkg/sub/__init__.py": "",
        "fakespark_pkg/late.py": "X = 7\n"})
    jar = _write_zip(tmp_path / "fake-core.jar", {"org/placeholder.txt": ""})
    user_zip = _write_zip(tmp_path / "user.zip", {"user_pkg/__init__.py": ""})
    for p in (spark_zip, jar, user_zip):
        monkeypatch.syspath_prepend(p)
    monkeypatch.setattr(_worker, "_SPARK_PACKAGES", ("fakespark_pkg",))
    try:
        importlib.import_module("fakespark_pkg.sub")
        importlib.import_module("user_pkg")
        spark_keys = {spark_zip, f"{spark_zip}/fakespark_pkg"}
        cached = {k for k, f in sys.path_importer_cache.items()
                  if isinstance(f, zipimport.zipimporter)}
        assert spark_keys | {jar, user_zip} <= cached

        assert trim_import_cache() >= 3
        assert not (spark_keys | {jar}) & set(sys.path_importer_cache)
        assert isinstance(sys.path_importer_cache[user_zip], zipimport.zipimporter)
        # a dropped finder is rebuilt on the next import from its archive
        assert importlib.import_module("fakespark_pkg.late").X == 7
    finally:
        for name in ("fakespark_pkg.late", "fakespark_pkg.sub", "fakespark_pkg", "user_pkg"):
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(str(tmp_path))]:
            del sys.path_importer_cache[key]


def test_task_entry_keeps_call_shape(monkeypatch):
    calls = []
    monkeypatch.setattr(_worker, "trim_import_cache", lambda: calls.append(1))

    @task_entry
    def gen(batches):
        yield from (b * 2 for b in batches)

    @task_entry
    def scalar(s: pd.Series) -> pd.Series:
        return s + 1

    out = gen([1, 2])
    assert not calls                      # a generator trims when it starts
    assert list(out) == [2, 4] and calls == [1]
    assert scalar(pd.Series([1])).tolist() == [2] and calls == [1, 1]
    assert scalar.__annotations__ == {"s": pd.Series, "return": pd.Series}


def test_worker_task_leaves_no_spark_finders(spark):
    @task_entry
    def probe(batches):
        from leiden_communities_openmp_spark.operators._worker import _spark_archives

        archives = _spark_archives()
        left = sum(isinstance(f, zipimport.zipimporter)
                   and (f.archive in archives or f.archive.endswith(".jar"))
                   for f in list(sys.path_importer_cache.values()))
        for _ in batches:
            pass
        yield pd.DataFrame({"left": [left]})

    rows = spark.range(0, 8, numPartitions=4).mapInPandas(probe, "left long").collect()
    assert [r.left for r in rows] == [0] * 4


# --- guard: every Python task entry point goes through task_entry ----------

def _is_name(node, name: str) -> bool:
    return ((isinstance(node, ast.Name) and node.id == name)
            or (isinstance(node, ast.Attribute) and node.attr == name))


def _has_task_entry(fn: ast.FunctionDef) -> bool:
    return any(_is_name(d, "task_entry") for d in fn.decorator_list)


class _Module:
    def __init__(self, path: pathlib.Path):
        self.path = path
        self.tree = ast.parse(path.read_text())
        self.parent = {c: p for p in ast.walk(self.tree) for c in ast.iter_child_nodes(p)}

    def scope_of(self, node):
        node = self.parent.get(node)
        while node is not None and not isinstance(node, (ast.FunctionDef, ast.Module)):
            node = self.parent.get(node)
        return node

    def find_def(self, name: str, at) -> ast.FunctionDef | None:
        """The def ``name`` visible at node ``at``: innermost enclosing
        scope first, then a ``from .x import name`` within the package."""
        scope = self.scope_of(at)
        while scope is not None:
            for n in ast.walk(scope):
                if (isinstance(n, ast.FunctionDef) and n.name == name
                        and self.scope_of(n) is scope):
                    return n
            scope = self.scope_of(scope) if isinstance(scope, ast.FunctionDef) else None
        for n in ast.walk(self.tree):
            if isinstance(n, ast.ImportFrom) and n.level and any(
                    a.name == name and a.asname is None for a in n.names):
                base = self.path.parent
                for _ in range(n.level - 1):
                    base = base.parent
                target = base.joinpath(*(n.module or "").split(".")).with_suffix(".py")
                mod = _Module(target)
                return mod.find_def(name, mod.tree.body[-1])
        return None

    def entry_defs(self, expr):
        """The function(s) a task-entry argument resolves to; None marks an
        argument the scan cannot follow."""
        if isinstance(expr, ast.Name):
            return [self.find_def(expr.id, expr)]
        if isinstance(expr, ast.Lambda) and isinstance(expr.body, ast.Call) \
                and isinstance(expr.body.func, ast.Name):
            return [self.find_def(expr.body.func.id, expr)]
        if isinstance(expr, ast.Call) and isinstance(expr.func, ast.Name):
            factory = self.find_def(expr.func.id, expr)
            if factory is None:
                return [None]
            rets = [r.value for r in ast.walk(factory)
                    if isinstance(r, ast.Return) and self.scope_of(r) is factory]
            return [self.find_def(r.id, r) if isinstance(r, ast.Name) else None
                    for r in rets] or [None]
        return [None]


def _task_entries():
    """(where, FunctionDef | None) for every mapInPandas/mapInArrow argument
    and every pandas_udf body in the package."""
    for path in sorted(PKG.rglob("*.py")):
        mod = _Module(path)
        decorators = {d for n in ast.walk(mod.tree) if isinstance(n, ast.FunctionDef)
                      for d in n.decorator_list}
        for node in ast.walk(mod.tree):
            where = f"{path.relative_to(REPO)}:{getattr(node, 'lineno', 0)}"
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
                    and node.func.attr in _TASK_METHODS:
                arg = node.args[0] if node.args else next(
                    (k.value for k in node.keywords if k.arg == "func"), None)
                for fn in mod.entry_defs(arg):
                    yield where, fn
            elif isinstance(node, ast.Call) and _is_name(node.func, "pandas_udf") \
                    and node not in decorators and node.args \
                    and isinstance(node.args[0], (ast.Name, ast.Lambda)):
                for fn in mod.entry_defs(node.args[0]):
                    yield where, fn
            elif isinstance(node, ast.FunctionDef) and any(
                    _is_name(d.func if isinstance(d, ast.Call) else d, "pandas_udf")
                    for d in node.decorator_list):
                yield where, node


def test_every_task_entry_trims_import_cache():
    entries = list(_task_entries())
    bad = [f"{where} ({fn.name if fn else 'unresolved'})"
           for where, fn in entries if fn is None or not _has_task_entry(fn)]
    assert not bad, f"Python task entry points without @task_entry: {bad}"
    # sweep, 2 leiden compose fns, rank, dfs run, 5 multimodal, 2 page UDFs
    assert len(entries) >= 12
