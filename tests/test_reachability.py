"""Every ``ts_raster_spark`` module is reached by the import graph of a
non-test entry point: the driver entry, the bench harnesses, the tools,
the perfbench workloads or the examples; and every function, class and
public method of the package is named outside the tests. A module or
function that only tests reach is dead engine surface; these tests
name it."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "ts_raster_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
ROOT_DIRS = ("tools", "perfbench", "examples")


def _modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PACKAGE).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path) -> set[str]:
    """Dotted names a file imports, at any nesting depth: ``import a.b``,
    ``from a import b`` (``b`` may be a submodule) and literal
    ``__import__("a.b")`` calls."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "__import__"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            names.add(node.args[0].value)
    return names


def _reached(path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules a file imports, with the packages each import
    runs on the way (``import a.b.c`` executes ``a`` and ``a.b``)."""
    out = set()
    for name in _imported_names(path):
        parts = name.split(".")
        out.update(m for i in range(1, len(parts) + 1) if (m := ".".join(parts[:i])) in mods)
    return out


def _roots() -> list[Path]:
    roots = [REPO / f for f in ROOT_FILES]
    roots += [p for d in ROOT_DIRS for p in sorted((REPO / d).glob("*.py"))]
    assert all(p.exists() for p in roots) and len(roots) > len(ROOT_FILES)
    return roots


def test_every_package_module_is_reached_outside_tests():
    mods = _modules()
    roots = _roots()

    seen: set[str] = set()
    todo = [m for p in roots for m in _reached(p, mods)]
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(_reached(mods[m], mods))
    unreached = sorted(set(mods) - seen)
    assert not unreached, f"reached only from tests (or not at all): {unreached}"


def _named(path: Path) -> set[str]:
    """Every name a file uses: a ``Name``, an attribute, or the last part
    of an imported name."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rpartition(".")[2])
    return names


def _defined(path: Path) -> list[tuple[str, str]]:
    """(qualified name, name) of a module's top-level functions and
    classes and of its classes' public methods."""
    out = []
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node.name))
        if isinstance(node, ast.ClassDef):
            out += [
                (f"{node.name}.{m.name}", m.name)
                for m in node.body
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and not m.name.startswith("_")
            ]
    return out


def test_every_package_function_is_named_outside_tests():
    mods = _modules()
    named = set().union(*(_named(p) for p in [*_roots(), *mods.values()]))
    unnamed = sorted(
        f"{mod}.{qual}" for mod, path in mods.items() for qual, name in _defined(path) if name not in named
    )
    assert not unnamed, f"named only in tests (or not at all): {unnamed}"
