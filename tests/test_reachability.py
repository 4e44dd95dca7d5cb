"""Every top-level package definition is reached from the fixed surface.

The surface is what the engine is for: the driver contract
(``__spark_entry__.py`` and every ``@query``-registered function),
``bench.py`` and the non-test ``perfbench/*.py`` modules. A static AST
scan follows names transitively from there; a definition the scan never
reaches is code that only tests exercise, and belongs deleted with its
tests. Needs no Spark.

Names resolve by identifier (bare names, attribute names, import
aliases), so the scan over-approximates reachability: it can miss dead
code that shares a name with live code, never flag live code. The
package dispatches nothing through ``getattr``/``importlib``, which is
what makes a name scan sound here.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark"

#: (module path relative to the package, name) -> why it stays unreached.
ALLOWED_UNREACHED = {
    ("__init__.py", "__version__"): "package metadata, read by humans and packaging",
}


def _refs(node: ast.AST, aliases: dict[str, str]) -> set[str]:
    """Identifiers ``node`` refers to, with import aliases resolved."""
    out: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(aliases.get(sub.id, sub.id))
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias):
            out.add(sub.name.rsplit(".", 1)[-1])
    return out


def _aliases(tree: ast.Module) -> dict[str, str]:
    return {
        a.asname: a.name.rsplit(".", 1)[-1]
        for sub in ast.walk(tree)
        if isinstance(sub, (ast.Import, ast.ImportFrom))
        for a in sub.names
        if a.asname
    }


def _is_query(deco: ast.expr) -> bool:
    target = deco.func if isinstance(deco, ast.Call) else deco
    return getattr(target, "id", getattr(target, "attr", None)) == "query"


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):  # ``__all__`` lists exports, it defines nothing
        return [t.id for t in stmt.targets if isinstance(t, ast.Name) and t.id != "__all__"]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def unreached_definitions() -> set[tuple[str, str]]:
    """(module, name) of every top-level package definition the surface
    does not reach."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}  # name -> [(module, refs)]
    seeds: set[str] = set()
    pkg_dir = os.path.join(ROOT, PKG)
    for dirpath, _, files in os.walk(pkg_dir):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, pkg_dir).replace(os.sep, "/")
            tree = _parse(path)
            aliases = _aliases(tree)
            for stmt in tree.body:
                names = _defined_names(stmt)
                if not names:
                    if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                        seeds |= _refs(stmt, aliases)  # runs on import
                    continue
                refs = _refs(stmt, aliases)
                for name in names:
                    defs.setdefault(name, []).append((rel, refs))
                decos = getattr(stmt, "decorator_list", [])
                for deco in decos:
                    seeds |= _refs(deco, aliases)  # decorators run on import
                if any(_is_query(d) for d in decos):
                    seeds |= set(names)

    surface = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    bench_dir = os.path.join(ROOT, "perfbench")
    surface += [
        os.path.join(bench_dir, f)
        for f in sorted(os.listdir(bench_dir))
        if f.endswith(".py") and not f.startswith("test_")
    ]
    for path in surface:
        tree = _parse(path)
        seeds |= _refs(tree, _aliases(tree))

    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, refs in defs.get(name, ()):
            todo.extend(refs - reached)
    return {(mod, name) for name, sites in defs.items() if name not in reached for mod, _ in sites}


def test_every_package_definition_is_reached_from_the_surface():
    unreached = unreached_definitions()
    dead = sorted(unreached - set(ALLOWED_UNREACHED))
    assert not dead, f"package definitions no query, bench.py or perfbench reaches: {dead}"
    stale = sorted(set(ALLOWED_UNREACHED) - unreached)
    assert not stale, f"allowlisted definitions that are now reached (drop them from the list): {stale}"
