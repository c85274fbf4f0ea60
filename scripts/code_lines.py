#!/usr/bin/env python
"""Count code lines of Python files: lines that hold a token other than
a comment, with blank lines, comment-only lines and docstrings (the
leading string of a module, class or function) left out.

Usage:  python scripts/code_lines.py PATH [PATH ...]

Each PATH is a .py file or a directory searched recursively for .py
files. Prints one "<lines>  <file>" row per file, sorted by path, then
"<lines>  total".
"""
from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    doc: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                doc.update(range(first.lineno, first.end_lineno + 1))
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - doc)


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    files: set[pathlib.Path] = set()
    for arg in argv:
        p = pathlib.Path(arg)
        files.update(p.rglob("*.py") if p.is_dir() else [p])
    total = 0
    for f in sorted(files):
        n = code_lines(f.read_text())
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
