"""Source lines of code of a Python tree: lines holding a token other
than a comment, with docstrings (module, class and function) excluded.
Blank lines and comment-only lines never count.

Usage:  python tools/sloc.py [path ...]      (default: ts_raster_spark)

Prints one ``<sloc>  <file>`` line per ``.py`` file under each path,
then ``<total>  TOTAL``.  Compare two trees (e.g. a ``git archive``
copy of the parent and the change) by their TOTAL lines.
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
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        first = node.body[0] if node.body else None
        if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant) and isinstance(first.value.value, str):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def sloc(source: str) -> int:
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(source)))


def main(paths: list[str]) -> int:
    total = 0
    for root in paths:
        p = Path(root)
        files = [p] if p.is_file() else sorted(p.rglob("*.py"))
        for f in files:
            n = sloc(f.read_text(encoding="utf-8"))
            total += n
            print(f"{n:6d}  {f}")
    print(f"{total:6d}  TOTAL")
    return total


if __name__ == "__main__":
    main(sys.argv[1:] or ["ts_raster_spark"])
