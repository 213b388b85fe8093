"""Every top-level function and class in the package has a caller outside
its own body: package code, perfbench, tools, bench.py or
__spark_entry__.py.  Pure AST, no Spark.

Re-exports in `__init__.py` files do not count as callers, and
`@query`-registered plans are exempt (the registry calls them).  A
helper that only tests call either gets a real caller or goes; the two
exceptions are references the tests compare other code against."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "janusgraph_clickhouse_spark"

# test references: the generic triangle count the dense paths are
# checked against, and the tests' graph constructor
ALLOWED = {"triangle_count", "graph_from_edge_list"}


def _sources() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), *(ROOT / "perfbench").rglob("*.py"),
             *(ROOT / "tools").rglob("*.py"),
             ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return [p for p in sorted(files) if p.name != "__init__.py"]


def _is_registered(node: ast.AST) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", getattr(f, "attr", None)) == "query":
            return True
    return False


def _unreferenced() -> dict[str, str]:
    """Map "file:line" → name of each package definition nothing else
    names."""
    defined, referenced = {}, set()
    for path in _sources():
        tree = ast.parse(path.read_text(), str(path))
        own = {}
        if PACKAGE in path.parents:
            for node in tree.body:
                if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef))
                        and not _is_registered(node)):
                    where = f"{path.relative_to(ROOT)}:{node.lineno}"
                    defined[where] = node.name
                    own[node] = node.name

        def walk(node: ast.AST, inside: str | None) -> None:
            for child in ast.iter_child_nodes(node):
                scope = own.get(child, inside)
                name = (child.id if isinstance(child, ast.Name) else
                        child.attr if isinstance(child, ast.Attribute)
                        else None)
                if name is not None and name != scope:
                    referenced.add(name)
                walk(child, scope)

        walk(tree, None)
    return {where: name for where, name in defined.items()
            if name not in referenced}


def test_every_package_definition_has_a_caller():
    found = _unreferenced()
    assert {w: n for w, n in found.items() if n not in ALLOWED} == {}
    # each allowance still names a caller-less definition, so the list
    # cannot outlive its reason
    assert set(found.values()) == ALLOWED
