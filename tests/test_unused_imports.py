"""Every import in the ``presto_db_spark`` package is read.

An ``ast`` scan of each module (``__init__.py`` files, which re-export,
excepted): a name bound by ``import``/``from ... import`` anywhere in the
module must appear as a loaded name somewhere in it. A name mentioned only
in a docstring or comment does not count.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "presto_db_spark"


def _unused_imports(src: str) -> list[str]:
    tree = ast.parse(src)
    bound: dict[str, int] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                bound.setdefault(name, node.lineno)
    read = {
        n.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)
    }
    return [f"{name} (line {line})" for name, line in bound.items() if name not in read]


def test_no_unused_imports():
    unused = {
        str(path.relative_to(PKG.parent)): names
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "__init__.py"
        for names in [_unused_imports(path.read_text(encoding="utf-8"))]
        if names
    }
    assert not unused, unused
