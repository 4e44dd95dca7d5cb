"""Every top-level package definition is reached from the fixed surface,
and every parameter it takes selects something there.

The surface is what the engine is for: the driver contract
(``__spark_entry__.py`` and every ``@query``-registered function),
``bench.py`` and the non-test ``perfbench/*.py`` modules. A static AST
scan follows names transitively from there; a definition the scan never
reaches is code that only tests exercise, and belongs deleted with its
tests. The parameter scan does the same one level down: a parameter that
every package call gives the same literal value, and that no surface call
passes, selects nothing; it only doubles the configurations tests must
cover, so its value belongs inlined (or, where tests vary it, a module
constant they monkeypatch). Needs no Spark.

Names resolve by identifier (bare names, attribute names, import
aliases), so the scan over-approximates reachability: it can miss dead
code that shares an attribute name with live code, never flag live code.
Inside a function, a bare name bound there (a parameter, an assignment,
a ``for``/``with``/``except`` target or a nested ``def``) is the
function's own and refers to no top-level definition, unless the
function declares it ``global``; a comprehension's targets are its own.
A local import still names what it imports. An attribute whose base is a
name imported from a module outside the package (``np.``, ``pq.``,
``F.``) is that module's, not the package's, so it resolves to nothing.
The package dispatches nothing through ``getattr``/``importlib``, which
is what makes a name scan sound here.
"""

from __future__ import annotations

import ast
import os
from collections.abc import Iterator

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "custom_map_reduce_for_word_count_in_cpp_using_grpc_and_hdfs_spark"
PKG_DIR = os.path.join(ROOT, PKG)

#: (module path relative to the package, name) -> why it stays unreached.
ALLOWED_UNREACHED = {
    ("__init__.py", "__version__"): "package metadata, read by humans and packaging",
}

_FIXTURE = "fixture-encoder variant: makes valid inputs the decoders must accept"
_SAFE = "quarantine flag: tests run a decode stage unguarded to see its raw error"

#: (module, qualified function name, parameter) -> why it keeps its one value.
ALLOWED_UNSET = {
    ("operators/multimodal.py", "encode_jpeg", "restart_interval"): _FIXTURE,
    ("operators/multimodal.py", "encode_jpeg", "per_scan_dht"): _FIXTURE,
    ("operators/multimodal.py", "encode_avi_rawrgb", "top_down"): _FIXTURE,
    ("operators/multimodal.py", "encode_flac", "block_size"): _FIXTURE,
    ("operators/multimodal.py", "audio_features", "safe"): _SAFE,
    ("operators/multimodal.py", "adpcm_roundtrip_check", "safe"): _SAFE,
    ("operators/multimodal.py", "video_frame_stats", "safe"): _SAFE,
    ("operators/multimodal.py", "mjpeg_frame_check", "safe"): _SAFE,
    ("operators/multimodal.py", "dib_frame_stats", "safe"): _SAFE,
    ("operators/dedup.py", "connected_components", "check_vertices"): (
        "debug check that SPARK_GRAFT_DEBUG turns on; it costs a join and a count per call"
    ),
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
_COMPS = (ast.ListComp, ast.SetComp, ast.GeneratorExp, ast.DictComp)


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


def _locals(fn: ast.FunctionDef | ast.AsyncFunctionDef | ast.Lambda) -> set[str]:
    """Names ``fn`` binds in its own scope, minus those it declares ``global``."""
    a = fn.args
    names = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg] if p}
    declared: set[str] = set()
    todo: list[ast.AST] = list(fn.body) if isinstance(fn.body, list) else [fn.body]
    while todo:
        node = todo.pop()
        if isinstance(node, ast.Global):
            declared |= set(node.names)
        elif isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Load):
            names.add(node.id)
        elif isinstance(node, ast.ExceptHandler) and node.name:
            names.add(node.name)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        if not isinstance(node, _FUNCS + _COMPS + (ast.ClassDef,)):  # own scopes
            todo.extend(ast.iter_child_nodes(node))
    return names - declared


def _scoped(node: ast.AST, bound: frozenset[str] = frozenset()) -> Iterator[tuple[ast.AST, frozenset[str]]]:
    """Every node under ``node`` with the names bound locally where it sits."""
    yield node, bound
    if isinstance(node, _FUNCS):
        a = node.args
        outer = [*getattr(node, "decorator_list", []), *a.defaults, *filter(None, a.kw_defaults)]
        outer += [p.annotation for p in a.posonlyargs + a.args + a.kwonlyargs if p.annotation]
        outer += [getattr(node, "returns", None)] if getattr(node, "returns", None) else []
        for part in outer:
            yield from _scoped(part, bound)
        inner = bound | _locals(node)
        for stmt in node.body if isinstance(node.body, list) else [node.body]:
            yield from _scoped(stmt, inner)
    elif isinstance(node, _COMPS):
        gens = node.generators
        inner = bound | {n.id for g in gens for n in ast.walk(g.target) if isinstance(n, ast.Name)}
        for i, g in enumerate(gens):
            yield from _scoped(g.iter, inner if i else bound)  # the first iterable runs outside
            for part in [g.target, *g.ifs]:
                yield from _scoped(part, inner)
        for part in [node.key, node.value] if isinstance(node, ast.DictComp) else [node.elt]:
            yield from _scoped(part, inner)
    else:
        for child in ast.iter_child_nodes(node):
            yield from _scoped(child, bound)


def _refs(node: ast.AST, aliases: dict[str, str], external: set[str]) -> set[str]:
    """Identifiers ``node`` refers to, with import aliases resolved."""
    out: set[str] = set()
    for sub, bound in _scoped(node):
        if isinstance(sub, ast.Name):
            if sub.id not in bound:
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


def package_modules() -> list[tuple[str, ast.Module]]:
    """(path relative to the package, tree) of every package module."""
    out = []
    for dirpath, _, files in os.walk(PKG_DIR):
        for fname in sorted(files):
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                out.append((os.path.relpath(path, PKG_DIR).replace(os.sep, "/"), _parse(path)))
    return out


def surface_modules() -> list[ast.Module]:
    surface = [os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, "bench.py")]
    bench_dir = os.path.join(ROOT, "perfbench")
    surface += [
        os.path.join(bench_dir, f)
        for f in sorted(os.listdir(bench_dir))
        if f.endswith(".py") and not f.startswith("test_")
    ]
    return [_parse(path) for path in surface]


def unreached_definitions(package: list[tuple[str, ast.Module]], surface: list[ast.Module]) -> set[tuple[str, str]]:
    """(module, name) of every top-level definition in ``package`` that
    ``surface`` does not reach."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}  # name -> [(module, refs)]
    seeds: set[str] = set()
    for rel, tree in package:
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

    for tree in surface:
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


#: The value of an argument that is not a literal: a name, an expression,
#: a ``*``/``**`` argument, or a default that is not a literal.
VARIES = "<varies>"


def _value(node: ast.expr) -> str:
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError):
        return VARIES
    return f"{type(value).__name__}:{value!r}"


class _Fn:
    """One scanned function: its positional slots (``self`` dropped for a
    method), its named parameters and the value each default gives."""

    def __init__(self, rel: str, qual: str, node: ast.FunctionDef, method: bool):
        a = node.args
        positional = [p.arg for p in a.posonlyargs + a.args]
        static = any(getattr(d, "id", None) == "staticmethod" for d in node.decorator_list)
        self.key = (rel, qual)
        self.slots = positional[1:] if method and not static else positional
        self.params = self.slots + [p.arg for p in a.kwonlyargs]
        self.defaults = {p: _value(d) for p, d in zip(positional[::-1], a.defaults[::-1])}
        self.defaults |= {p.arg: _value(d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}

    def given(self, call: ast.Call) -> dict[str, str]:
        """The value ``call`` passes to each parameter it names or fills."""
        out: dict[str, str] = {}
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                out |= dict.fromkeys(self.slots[i:], VARIES)
                break
            if i < len(self.slots):
                out[self.slots[i]] = _value(arg)
        for kw in call.keywords:
            if kw.arg is None:  # an opaque ** mapping may set anything
                out = dict.fromkeys(self.params, VARIES) | out
            elif kw.arg in self.params:
                out[kw.arg] = _value(kw.value)
        return out


def _callee(func: ast.expr, bound: frozenset[str], aliases: dict[str, str], external: set[str]) -> str | None:
    """The identifier a call through ``func`` resolves to, if it can name
    a package function."""
    if isinstance(func, ast.Name) and func.id not in bound:
        return aliases.get(func.id, func.id)
    if isinstance(func, ast.Attribute) and _root(func) not in external:
        return func.attr
    return None


def _dispatch(node: ast.For | ast.comprehension, bound: frozenset[str], aliases: dict[str, str],
              external: set[str], known: dict) -> dict[str, list[str]]:
    """Loop names that ``node`` binds, one by one, to every function of a
    literal tuple or list: ``for op, fn in (("a", f), ("b", g))`` binds
    ``fn`` to ``f`` and ``g``. A name is kept only when every element
    names a package function in its position."""
    rows = node.iter.elts if isinstance(node.iter, (ast.Tuple, ast.List)) else []
    if isinstance(node.target, ast.Name):
        slots = [(node.target.id, rows)]
    elif isinstance(node.target, (ast.Tuple, ast.List)) and rows and all(
        isinstance(r, (ast.Tuple, ast.List)) and len(r.elts) == len(node.target.elts) for r in rows
    ):
        slots = [(t.id, [r.elts[i] for r in rows]) for i, t in enumerate(node.target.elts) if isinstance(t, ast.Name)]
    else:
        slots = []
    out = {}
    for name, items in slots:
        callees = [_callee(item, bound, aliases, external) for item in items]
        if callees and all(c in known for c in callees):
            out[name] = callees
    return out


def single_valued_parameters(
    package: list[tuple[str, ast.Module]], surface: list[ast.Module]
) -> set[tuple[str, str, str]]:
    """(module, function, parameter) of every parameter of a top-level
    function or class method in ``package`` that every call gives the same
    literal value and that no ``surface`` call passes.

    A call gives each parameter the literal it passes, the default where it
    passes none, and :data:`VARIES` for anything else. ``ClassName(...)``
    calls ``__init__``; a call through a name bound locally calls whatever
    that name holds, not the package function of the same name. A loop
    name bound to the functions of a literal tuple (:func:`_dispatch`)
    calls each of them."""
    by_name: dict[str, list[_Fn]] = {}  # callee identifier -> candidates
    for rel, tree in package:
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                by_name.setdefault(stmt.name, []).append(_Fn(rel, stmt.name, stmt, method=False))
            elif isinstance(stmt, ast.ClassDef):
                for sub in stmt.body:
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        fn = _Fn(rel, f"{stmt.name}.{sub.name}", sub, method=True)
                        by_name.setdefault(sub.name, []).append(fn)
                        if sub.name == "__init__":
                            by_name.setdefault(stmt.name, []).append(fn)

    values: dict[tuple[tuple[str, str], str], set[str]] = {}
    passed: set[tuple[tuple[str, str], str]] = set()  # (fn key, parameter) a surface call passes
    trees = [(tree, False) for _, tree in package] + [(tree, True) for tree in surface]

    def record(name: str | None, call: ast.Call, on_surface: bool) -> None:
        for fn in by_name.get(name, ()):
            given = fn.given(call)
            for p in fn.params:
                values.setdefault((fn.key, p), set()).add(given.get(p, fn.defaults.get(p, VARIES)))
            if on_surface:
                passed.update((fn.key, p) for p in given)

    for tree, on_surface in trees:
        aliases, external = _imports(tree)
        for node, bound in _scoped(tree):
            if isinstance(node, ast.Call):
                record(_callee(node.func, bound, aliases, external), node, on_surface)
            elif isinstance(node, (ast.For, *_COMPS)):
                for loop in [node] if isinstance(node, ast.For) else node.generators:
                    for name, callees in _dispatch(loop, bound, aliases, external, by_name).items():
                        for call in ast.walk(node):
                            if isinstance(call, ast.Call) and getattr(call.func, "id", None) == name:
                                for callee in callees:
                                    record(callee, call, on_surface)
    return {
        (*key, p)
        for (key, p), vals in values.items()
        if len(vals) == 1 and VARIES not in vals and (key, p) not in passed
    }


def test_every_package_definition_is_reached_from_the_surface():
    unreached = unreached_definitions(package_modules(), surface_modules())
    dead = sorted(unreached - set(ALLOWED_UNREACHED))
    assert not dead, f"package definitions no query, bench.py or perfbench reaches: {dead}"
    stale = sorted(set(ALLOWED_UNREACHED) - unreached)
    assert not stale, f"allowlisted definitions that are now reached (drop them from the list): {stale}"


def test_every_parameter_takes_more_than_one_value():
    fixed = single_valued_parameters(package_modules(), surface_modules())
    constants = sorted(fixed - set(ALLOWED_UNSET))
    assert not constants, (
        f"{len(constants)} parameters every call gives one literal and no query, bench.py or "
        f"perfbench call passes (inline the value, or make it a module constant tests patch): {constants}"
    )
    stale = sorted(set(ALLOWED_UNSET) - fixed)
    assert not stale, f"allowlisted parameters that now take other values (drop them from the list): {stale}"


def _scan(package_src: str, surface_src: str = "") -> set[tuple[str, str, str]]:
    return single_valued_parameters([("m.py", ast.parse(package_src))], [ast.parse(surface_src)])


def test_a_default_passed_as_itself_is_flagged():
    src = "def f(x, n=3):\n    return x * n\n\ndef g(y):\n    return f(y, n=3) + f(y)\n"
    assert ("m.py", "f", "n") in _scan(src)


def test_a_required_parameter_given_one_literal_is_flagged():
    src = "def f(x, mode):\n    return x, mode\n\ndef g(y):\n    return f(y, 'complete'), f(-y, 'complete')\n"
    assert _scan(src) == {("m.py", "f", "mode")}


def test_a_parameter_the_surface_passes_is_not_flagged():
    src = "def f(x, k=4):\n    return x[:k]\n\ndef g(y):\n    return f(y)\n"
    assert ("m.py", "f", "k") in _scan(src)
    assert ("m.py", "f", "k") not in _scan(src, "from m import f\nf([1], 4)\n")


def test_a_call_through_a_local_name_is_not_the_package_function():
    src = "def f(x, k=4):\n    return x[:k]\n\ndef g(f, y):\n    return f(y, k=y)\n\ndef h(y):\n    return f(y)\n"
    assert ("m.py", "f", "k") in _scan(src)


def test_a_call_through_a_tuple_dispatch_calls_each_function():
    table = "def f(x, mode='a'):\n    return x, mode\n\ndef g(x, mode='a'):\n    return x, mode\n\n"
    comp = table + "def run(y):\n    return [fn(y) for op, fn in (('f', f), ('g', g))]\n"
    assert {("m.py", "f", "mode"), ("m.py", "g", "mode")} <= _scan(comp)
    loop = comp + "def other(y):\n    for op, fn in [('f', f), ('g', g)]:\n        fn(y, mode=op)\n"
    assert not {("m.py", "f", "mode"), ("m.py", "g", "mode")} & _scan(loop)


def test_a_dead_definition_sharing_a_local_name_is_unreached():
    src = (
        "def dim(name):\n    return name\n\n"
        "def width(vecs, dim=64):\n    return [v[:dim] for v in vecs]\n\n"
        "def rows(vecs):\n    dim = len(vecs)\n    return dim\n\n"
        "_zip = None\n\ndef ship():\n    global _zip\n    _zip = 'pkg.zip'\n"
    )
    surface = "from m import width, rows, ship\nwidth([], 3)\nrows([])\nship()\n"
    assert unreached_definitions([("m.py", ast.parse(src))], [ast.parse(surface)]) == {("m.py", "dim")}
