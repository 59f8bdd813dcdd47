#!/usr/bin/env python
"""Count Python code lines without comments, blank lines or docstrings.

Usage: python tools/code_lines.py [paths...]   (default: the package)

A line counts when it holds a token other than a comment or a newline
and is not inside a module, class or function docstring.  A string
token that spans several lines counts on every line it covers.
Directories are walked for ``*.py`` files.  Prints one line per path
and a total when more than one path is given.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
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


def count_source(src: str) -> int:
    """Code lines of one module's source text."""
    doc = _docstring_lines(ast.parse(src))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc)


def count_path(path: Path) -> int:
    files = sorted(path.rglob("*.py")) if path.is_dir() else [path]
    return sum(count_source(f.read_text(encoding="utf-8")) for f in files)


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else argv
    paths = [Path(a) for a in args] or [
        Path(__file__).resolve().parent.parent / "etl_data_pipeline_spark"
    ]
    total = 0
    for p in paths:
        n = count_path(p)
        total += n
        print(f"{n:>7,}  {p}")
    if len(paths) > 1:
        print(f"{total:>7,}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
