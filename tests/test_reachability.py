"""Every package module is reachable from an entry point.

The system is what `__spark_entry__.py`, `run.py` and `bench.py` reach; a
module only tests import is dead code.  Imports are followed with `ast`
(module-level and function-local alike), so this runs without Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "spacetime_crawler_spark"
ENTRY_POINTS = ("__spark_entry__.py", "run.py", "bench.py")


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path, known: set[str]) -> set[str]:
    """Package modules `path` imports, plus every parent package of each
    (importing a.b.c runs a/__init__ and a/b/__init__ first)."""
    pkg = _module_name(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = pkg[: len(pkg) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            # `from pkg import mod` imports the submodule `pkg.mod`
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(
            ".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in known
        )
    return out


def reachable_modules() -> tuple[set[str], set[str]]:
    files = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    files.update({_module_name(ROOT / e): ROOT / e for e in ENTRY_POINTS})
    known = set(files)
    seen: set[str] = set()
    todo = [_module_name(ROOT / e) for e in ENTRY_POINTS]
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(_imported(files[mod], known) - seen)
    package = {m for m in known if m == PKG or m.startswith(PKG + ".")}
    return package, seen


def test_every_package_module_is_reached_from_an_entry_point():
    package, reached = reachable_modules()
    assert len(package) > 20  # the walk really saw the package
    assert sorted(package - reached) == []
