"""Every top-level package definition is reached from the fixed surface,
and every option it takes is set from there.

The surface is what the engine is for: the driver contract
(``__spark_entry__.py`` and every ``@query``-registered function),
``bench.py`` and the non-test ``perfbench/*.py`` modules. A static AST
scan follows names transitively from there; a definition the scan never
reaches is code that only tests exercise, and belongs deleted with its
tests. The parameter scan does the same one level down: a defaulted
parameter no surface or package call ever sets is an option that only
doubles the configurations tests must cover, so its value belongs
inlined (or, where tests vary it, a module constant they monkeypatch).
Needs no Spark.

Names resolve by identifier (bare names, attribute names, import
aliases), so the scan over-approximates reachability: it can miss dead
code that shares a name with live code, never flag live code. An
attribute whose base is a name imported from a module outside the
package (``np.``, ``pq.``, ``F.``) is that module's, not the package's,
so it resolves to nothing. The package dispatches nothing through
``getattr``/``importlib``, which is what makes a name scan sound here.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark"
PKG_DIR = os.path.join(ROOT, PKG)

#: (module path relative to the package, name) -> why it stays unreached.
ALLOWED_UNREACHED = {
    ("__init__.py", "__version__"): "package metadata, read by humans and packaging",
}

_FIXTURE = "fixture-encoder variant: makes valid inputs the decoders must accept"
_SAFE = "quarantine flag: tests run a decode stage unguarded to see its raw error"

#: (module, qualified function name, parameter) -> why no surface call sets it.
ALLOWED_UNSET = {
    ("operators/multimodal.py", "encode_jpeg", "restart_interval"): _FIXTURE,
    ("operators/multimodal.py", "encode_jpeg", "per_scan_dht"): _FIXTURE,
    ("operators/multimodal.py", "encode_avi_rawrgb", "top_down"): _FIXTURE,
    ("operators/multimodal.py", "encode_flac", "block_size"): _FIXTURE,
    ("operators/multimodal.py", "encode_wav_adpcm", "spb"): _FIXTURE,
    ("operators/multimodal.py", "audio_features", "safe"): _SAFE,
    ("operators/multimodal.py", "adpcm_roundtrip_check", "safe"): _SAFE,
    ("operators/multimodal.py", "video_frame_stats", "safe"): _SAFE,
    ("operators/multimodal.py", "mjpeg_frame_check", "safe"): _SAFE,
    ("operators/multimodal.py", "dib_frame_stats", "safe"): _SAFE,
    ("operators/dedup.py", "connected_components", "check_vertices"): (
        "debug check that SPARK_GRAFT_DEBUG turns on; it costs a join and a count per call"
    ),
}


def _is_package_import(node: ast.Import | ast.ImportFrom, alias: ast.alias) -> bool:
    module = alias.name if isinstance(node, ast.Import) else node.module or ""
    return getattr(node, "level", 0) > 0 or module == PKG or module.startswith(PKG + ".")


def _imports(tree: ast.Module) -> tuple[dict[str, str], set[str]]:
    """(alias -> imported name, local names bound to things outside the package)."""
    aliases: dict[str, str] = {}
    external: set[str] = set()
    for sub in ast.walk(tree):
        if isinstance(sub, (ast.Import, ast.ImportFrom)):
            for a in sub.names:
                if a.asname:
                    aliases[a.asname] = a.name.rsplit(".", 1)[-1]
                if not _is_package_import(sub, a):
                    external.add(a.asname or a.name.split(".", 1)[0])
    return aliases, external


def _root(node: ast.expr) -> str | None:
    while isinstance(node, ast.Attribute):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _refs(node: ast.AST, aliases: dict[str, str], external: set[str]) -> set[str]:
    """Identifiers ``node`` refers to, with import aliases resolved."""
    out: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            out.add(aliases.get(sub.id, sub.id))
        elif isinstance(sub, ast.Attribute):
            if _root(sub) not in external:
                out.add(sub.attr)
        elif isinstance(sub, (ast.Import, ast.ImportFrom)):
            out |= {a.name.rsplit(".", 1)[-1] for a in sub.names if _is_package_import(sub, a)}
    return out


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


def _package_modules() -> list[tuple[str, ast.Module]]:
    """(path relative to the package, tree) of every package module."""
    out = []
    for dirpath, _, files in os.walk(PKG_DIR):
        for fname in sorted(files):
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                out.append((os.path.relpath(path, PKG_DIR).replace(os.sep, "/"), _parse(path)))
    return out


def _surface_modules() -> list[ast.Module]:
    surface = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    bench_dir = os.path.join(ROOT, "perfbench")
    surface += [
        os.path.join(bench_dir, f)
        for f in sorted(os.listdir(bench_dir))
        if f.endswith(".py") and not f.startswith("test_")
    ]
    return [_parse(path) for path in surface]


def unreached_definitions() -> set[tuple[str, str]]:
    """(module, name) of every top-level package definition the surface
    does not reach."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}  # name -> [(module, refs)]
    seeds: set[str] = set()
    for rel, tree in _package_modules():
        aliases, external = _imports(tree)
        for stmt in tree.body:
            names = _defined_names(stmt)
            if not names:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    seeds |= _refs(stmt, aliases, external)  # runs on import
                continue
            refs = _refs(stmt, aliases, external)
            for name in names:
                defs.setdefault(name, []).append((rel, refs))
            decos = getattr(stmt, "decorator_list", [])
            for deco in decos:
                seeds |= _refs(deco, aliases, external)  # decorators run on import
            if any(_is_query(d) for d in decos):
                seeds |= set(names)

    for tree in _surface_modules():
        seeds |= _refs(tree, *_imports(tree))

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


class _Fn:
    """One scanned function: its positional slots (``self`` dropped for a
    method), its named parameters, and the defaulted ones the scan checks."""

    def __init__(self, rel: str, qual: str, node: ast.FunctionDef, method: bool):
        a = node.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        static = any(getattr(d, "id", None) == "staticmethod" for d in node.decorator_list)
        self.key = (rel, qual)
        self.slots = positional[1:] if method and not static else positional
        self.named = set(positional) | {p.arg for p in a.kwonlyargs}
        defaulted = positional[len(positional) - len(a.defaults):] if a.defaults else []
        defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        self.checked = {p for p in defaulted if not p.endswith("_col")}
        self.kwarg = a.kwarg.arg if a.kwarg else None


def unset_parameters() -> set[tuple[str, str, str]]:
    """(module, function, parameter) of every defaulted parameter of a
    top-level function or class method that no call in the package or on
    the surface sets. A keyword, a positional slot or a ``**kwargs``
    pass-through sets it; ``*_col`` parameters bind the frame's schema,
    select no route, and are not checked. ``ClassName(...)`` calls
    ``__init__``."""
    by_name: dict[str, list[_Fn]] = {}  # callee identifier -> candidates
    scopes: list[tuple[ast.AST, _Fn | None, dict[str, str], set[str]]] = []
    for rel, tree in _package_modules():
        aliases, external = _imports(tree)
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = _Fn(rel, stmt.name, stmt, method=False)
                by_name.setdefault(stmt.name, []).append(fn)
                scopes.append((stmt, fn, aliases, external))
            elif isinstance(stmt, ast.ClassDef):
                for sub in stmt.body:
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        fn = _Fn(rel, f"{stmt.name}.{sub.name}", sub, method=True)
                        by_name.setdefault(sub.name, []).append(fn)
                        if sub.name == "__init__":
                            by_name.setdefault(stmt.name, []).append(fn)
                        scopes.append((sub, fn, aliases, external))
                    else:
                        scopes.append((sub, None, aliases, external))
                scopes.extend((d, None, aliases, external) for d in stmt.decorator_list)
            else:
                scopes.append((stmt, None, aliases, external))
    for tree in _surface_modules():
        scopes.append((tree, None, *_imports(tree)))

    set_: set[tuple[tuple[str, str], str]] = set()  # (fn key, parameter) set by slot or opaque **
    passed: dict[tuple[str, str], set[str]] = {}  # fn key -> keywords its callers pass
    forwards: dict[tuple[str, str], list[_Fn]] = {}  # fn key -> callees handed its **kwargs
    for scope, caller, aliases, external in scopes:
        for call in ast.walk(scope):
            if not isinstance(call, ast.Call):
                continue
            func = call.func
            if isinstance(func, ast.Name):
                name = aliases.get(func.id, func.id)
            elif isinstance(func, ast.Attribute) and _root(func) not in external:
                name = func.attr
            else:
                continue
            for fn in by_name.get(name, ()):
                for i, arg in enumerate(call.args):
                    slots = fn.slots[i:] if isinstance(arg, ast.Starred) else fn.slots[i : i + 1]
                    set_ |= {(fn.key, p) for p in slots}
                for kw in call.keywords:
                    if kw.arg is not None:
                        passed.setdefault(fn.key, set()).add(kw.arg)
                    elif caller and caller.kwarg and getattr(kw.value, "id", None) == caller.kwarg:
                        forwards.setdefault(caller.key, []).append(fn)
                    else:  # an opaque ** mapping may set anything
                        set_ |= {(fn.key, p) for p in fn.named}

    fns = {fn.key: fn for cands in by_name.values() for fn in cands}
    changed = True
    while changed:  # keywords a **kwargs function does not name flow on to its callees
        changed = False
        for key, callees in forwards.items():
            extra = passed.get(key, set()) - fns[key].named
            for fn in callees:
                got = passed.setdefault(fn.key, set())
                if not extra <= got:
                    got |= extra
                    changed = True
    set_ |= {(key, p) for key, kws in passed.items() for p in kws}
    return {(*fn.key, p) for fn in fns.values() for p in fn.checked if (fn.key, p) not in set_}


def test_every_package_definition_is_reached_from_the_surface():
    unreached = unreached_definitions()
    dead = sorted(unreached - set(ALLOWED_UNREACHED))
    assert not dead, f"package definitions no query, bench.py or perfbench reaches: {dead}"
    stale = sorted(set(ALLOWED_UNREACHED) - unreached)
    assert not stale, f"allowlisted definitions that are now reached (drop them from the list): {stale}"


def test_every_defaulted_parameter_is_set_from_the_surface():
    unset = unset_parameters()
    options = sorted(unset - set(ALLOWED_UNSET))
    assert not options, (
        f"{len(options)} defaulted parameters no query, bench.py or perfbench call sets "
        f"(inline the value, or make it a module constant tests patch): {options}"
    )
    stale = sorted(set(ALLOWED_UNSET) - unset)
    assert not stale, f"allowlisted parameters that are now set (drop them from the list): {stale}"
