"""Defaulted parameters of a Python tree, and the ones no caller varies.

Usage:  python tools/params.py [path ...]      (default: ts_raster_spark)

Prints one ``<n>  <file>`` line per ``.py`` file under each path (``n``
counts the parameters that have a default, over every function and
method), then ``<total>  TOTAL``.  After that it lists, as
``<file>:<line>  <func>(<param>=<default>)  <calls>``, each defaulted
parameter that every call in the repository leaves at one value: the
call never passes it, or passes the default itself.

Calls are matched to definitions by name (``f(...)``, ``mod.f(...)``,
``obj.f(...)``, ``Cls(...)`` for ``Cls.__init__``, and ``g(...)`` after
``from m import f as g``), over every
``.py`` file of the repository outside hidden and build directories.  A
name defined twice pools the calls of both.  A call with
``*args``/``**kwargs`` counts as passing every parameter a non-default
value, and so does passing anything other than the default's own
literal or name (a variable may hold any value).  A function that is
never called by name (say, one only handed over as a callback) leaves
every parameter at its default and is listed with 0 calls.
"""

from __future__ import annotations

import ast
import sys
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
_SKIP_DIRS = {"spark-warehouse", "__pycache__"}


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, positional index or None for keyword-only, default) per
    defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, first + i, d) for i, (p, d) in enumerate(zip(pos[first:], a.defaults))]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _functions(tree: ast.AST):
    """Every function with the name its calls use and whether it is a
    method (its first positional is bound by the call, so call positions
    shift by one)."""
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if not isinstance(body, list):
            continue
        for child in body:
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                is_method = isinstance(node, ast.ClassDef) and not any(
                    isinstance(d, ast.Name) and d.id == "staticmethod" for d in child.decorator_list
                )
                name = node.name if is_method and child.name == "__init__" else child.name
                yield child, name, is_method


def _same(value: ast.expr, default: ast.expr) -> bool:
    def norm(v):
        return tuple(norm(x) for x in v) if isinstance(v, (list, tuple)) else v

    try:
        return norm(ast.literal_eval(value)) == norm(ast.literal_eval(default))
    except (ValueError, TypeError):
        return ast.dump(value) == ast.dump(default)


def _py_files(root: Path) -> list[Path]:
    def skipped(f: Path) -> bool:
        return any(d.startswith(".") or d in _SKIP_DIRS for d in f.relative_to(root).parts[:-1])

    return sorted(f for f in root.rglob("*.py") if not skipped(f))


def _calls(files: list[Path]) -> dict[str, list[ast.Call]]:
    calls: dict[str, list[ast.Call]] = defaultdict(list)
    for f in files:
        tree = ast.parse(f.read_text(encoding="utf-8"))
        # ``from m import f as g``: a call of g is a call of f
        alias = {a.asname: a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names if a.asname}
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                func = node.func
                name = func.id if isinstance(func, ast.Name) else func.attr if isinstance(func, ast.Attribute) else None
                if name:
                    calls[alias.get(name, name)].append(node)
    return calls


def _one_value(call: ast.Call, name: str, index: int | None, default: ast.expr, shift: int) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args) or any(k.arg is None for k in call.keywords):
        return False
    for k in call.keywords:
        if k.arg == name:
            return _same(k.value, default)
    if index is not None and index - shift < len(call.args):
        return index - shift >= 0 and _same(call.args[index - shift], default)
    return True


def main(paths: list[str]) -> int:
    total = 0
    defined = []
    for root in paths:
        p = Path(root)
        files = [p] if p.is_file() else sorted(p.rglob("*.py"))
        for f in files:
            n = 0
            for fn, call_name, is_method in _functions(ast.parse(f.read_text(encoding="utf-8"))):
                params = _defaulted(fn)
                n += len(params)
                defined += [(f, fn, call_name, is_method, param) for param in params]
            total += n
            print(f"{n:6d}  {f}")
    print(f"{total:6d}  TOTAL")

    calls = _calls(_py_files(REPO))
    fixed = 0
    for f, fn, call_name, is_method, (name, index, default) in defined:
        sites = calls.get(call_name, [])
        if all(_one_value(c, name, index, default, int(is_method)) for c in sites):
            fixed += 1
            print(f"{f}:{fn.lineno}  {fn.name}({name}={ast.unparse(default)})  {len(sites)}")
    print(f"{fixed:6d}  ONE VALUE")
    return total


if __name__ == "__main__":
    main(sys.argv[1:] or ["ts_raster_spark"])
