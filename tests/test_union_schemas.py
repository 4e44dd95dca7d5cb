"""Every suite writes its union schema once, through the one builder.

A registry suite is a tagged UNION ALL whose branches must agree on
column names, order and types; a branch that lacks a column fills it
with a NULL of the union's type, because the oracle's value hash tells
an untyped or differently typed NULL apart. ``queries.TaggedUnion`` is
the one place that writes those slots. A query module that spells a
typed NULL itself (``F.lit(None).cast(...)``) is restating a union
schema by hand, which is the pattern the builder replaced. Needs no
Spark.
"""

from __future__ import annotations

import ast

from tests.test_reachability import package_modules

#: The module that owns the typed NULL slot: the union builder's.
BUILDER = "queries/__init__.py"


def _typed_null_lines(tree: ast.Module) -> list[int]:
    """Line of every ``<x>.lit(None).cast(...)`` / ``.astype(...)`` call."""
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cast", "astype")
            and isinstance(node.func.value, ast.Call)
        ):
            inner = node.func.value
            name = inner.func.attr if isinstance(inner.func, ast.Attribute) else getattr(inner.func, "id", None)
            if name == "lit" and len(inner.args) == 1 and isinstance(inner.args[0], ast.Constant) and inner.args[0].value is None:
                lines.append(node.lineno)
    return sorted(lines)


def test_only_the_union_builder_writes_typed_null_slots():
    offenders = {
        rel: lines
        for rel, tree in package_modules()
        if rel.startswith("queries/") and rel != BUILDER and (lines := _typed_null_lines(tree))
    }
    assert not offenders, (
        f"query modules write typed NULL slots by hand (module: lines) {offenders}; "
        "declare the suite's union as a queries.TaggedUnion and leave the column out of the branch"
    )


def test_the_scan_finds_a_typed_null():
    src = 'from pyspark.sql import functions as F\nx = F.lit(None).cast("long")\ny = F.lit(0).cast("long")\n'
    assert _typed_null_lines(ast.parse(src)) == [2]
