#!/usr/bin/env python
"""Count the code lines of the ``presto_db_spark`` package.

A code line is a line that holds at least one token other than a comment
(``tokenize``: not COMMENT, NL, NEWLINE, INDENT, DEDENT or ENDMARKER),
minus the lines spanned by module, class and function docstrings (``ast``).
Blank lines, comment-only lines and docstrings therefore do not count; a
multi-line string that is not a docstring (an SQL text) does.

Usage: python scripts/count_code_lines.py [--per-file]
"""

from __future__ import annotations

import ast
import glob
import io
import os
import sys
import tokenize

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count_file(path: str) -> int:
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(src)))


def main() -> int:
    paths = sorted(glob.glob(os.path.join(REPO, "presto_db_spark", "**", "*.py"), recursive=True))
    counts = {os.path.relpath(p, REPO): count_file(p) for p in paths}
    if "--per-file" in sys.argv[1:]:
        for rel, n in counts.items():
            print(f"{n:7d} {rel}")
    print(sum(counts.values()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
