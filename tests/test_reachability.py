"""Every package module, function and class is reachable from an entry point,
or listed with its reason in TEST_ONLY.

The system is what `__spark_entry__.py`, `run.py` and `bench.py` reach; code
only tests reach is dead.  Imports are followed with `ast` (module-level and
function-local alike), so this runs without Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "spacetime_crawler_spark"
ENTRY_POINTS = ("__spark_entry__.py", "run.py", "bench.py")

_WIRE_IN = "ROADMAP item 2: a crawl report, to be wired into run.py --reports"
_REFERENCE = "pure-Python reference the tests compare the engine against"

# Package functions and classes no entry point reaches, each with the reason
# it is kept.  The guard compares for equality: an entry that becomes
# reachable or is deleted must leave this dict too.
TEST_ONLY = {
    "plans.crawl_reports.unique_pages": _WIRE_IN,
    "plans.crawl_reports.subdomain_histogram": _WIRE_IN,
    "plans.crawl_reports.longest_page": _WIRE_IN,
    "plans.crawl_reports.common_words": _WIRE_IN,
    "plans.crawl_reports._fetched_pages": _WIRE_IN + " (shared helper)",
    "plans.crawl.prepare_pages": _WIRE_IN + " (its input)",
    "sources.warc.write_warc_pages": "ROADMAP item 4: WARC output of a crawl",
    "sources.warc._serialize_record": "helper of write_warc_pages",
    "functions.robots.robots_allowed": _REFERENCE,
    "operators.textstats.bpe_pretokenize": _REFERENCE,
    "sources.synth.driver_side_pages": _REFERENCE,
    "sources.synth.sanity_check_world": _REFERENCE,
    "operators.bloom.collect_sidecar": "reads a committed sidecar back for"
    " the bloom tests; perfbench's traced runs wrap it (ROADMAP item 7)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _import_aliases(path: Path, node: ast.AST) -> dict[str, str]:
    """Local name → dotted target of every import under `node` in `path`
    (`from a import b as c` binds c → a.b; `import a.b` binds a → a)."""
    pkg = _module_name(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    out: dict[str, str] = {}
    for n in ast.walk(node):
        if isinstance(n, ast.Import):
            for a in n.names:
                out[a.asname or a.name.split(".")[0]] = (
                    a.name if a.asname else a.name.split(".")[0]
                )
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                anchor = pkg[: len(pkg) - n.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            for a in n.names:
                out[a.asname or a.name] = f"{base}.{a.name}"
    return out


def _imported(path: Path, known: set[str]) -> set[str]:
    """Package modules `path` imports, plus every parent package of each
    (importing a.b.c runs a/__init__ and a/b/__init__ first)."""
    tree = ast.parse(path.read_text())
    names = {a.name for n in ast.walk(tree) if isinstance(n, ast.Import)
             for a in n.names}
    for target in _import_aliases(path, tree).values():
        # `from pkg import x` imports pkg, and the submodule pkg.x if x is one
        names.update((target, target.rpartition(".")[0]))
    out = set()
    for name in names:
        parts = name.split(".")
        out.update(
            ".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in known
        )
    return out


def _files() -> dict[str, Path]:
    files = {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}
    files.update({_module_name(ROOT / e): ROOT / e for e in ENTRY_POINTS})
    return files


def reachable_modules() -> tuple[set[str], set[str]]:
    files = _files()
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


def unreached_definitions() -> set[str]:
    """Top-level functions and classes of reached package modules that no
    entry point reaches, as `module.name` relative to the package.

    Roots are the entry points (whole files) and the module-level statements
    of every reached package module.  A def is reached when a reached piece
    of code names it: a bare name in its own module, an imported alias, or
    an attribute chain through an imported module (`mod.fn`)."""
    files = _files()
    package, modules = reachable_modules()
    trees = {m: ast.parse(files[m].read_text()) for m in modules}
    defs = {m: {n.name: n for n in t.body if isinstance(n, _DEFS)}
            for m, t in trees.items()}
    aliases = {m: _import_aliases(files[m], t) for m, t in trees.items()}

    def resolve(dotted: str) -> tuple[str, str] | None:
        mod, _, name = dotted.rpartition(".")
        if mod not in modules:
            return None
        if name in defs[mod]:
            return mod, name
        if name in aliases[mod]:  # a re-export
            return resolve(aliases[mod][name])
        return None

    def references(mod: str, node: ast.AST) -> set[tuple[str, str]]:
        dotted: list[str] = []
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                if n.id in defs[mod]:
                    dotted.append(f"{mod}.{n.id}")
                elif n.id in aliases[mod]:
                    dotted.append(aliases[mod][n.id])
            elif isinstance(n, ast.Attribute):
                chain, base = [], n
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if isinstance(base, ast.Name) and base.id in aliases[mod]:
                    dotted.append(".".join([aliases[mod][base.id], *chain[::-1]]))
            elif isinstance(n, ast.ImportFrom):
                dotted.extend(_import_aliases(files[mod], n).values())
        return {r for r in map(resolve, dotted) if r is not None}

    todo = [(_module_name(ROOT / e), trees[_module_name(ROOT / e)])
            for e in ENTRY_POINTS]
    todo += [(m, st) for m in modules & package for st in trees[m].body
             if not isinstance(st, _DEFS)]
    reached: set[tuple[str, str]] = set()
    while todo:
        mod, node = todo.pop()
        for ref in references(mod, node) - reached:
            reached.add(ref)
            todo.append((ref[0], defs[ref[0]][ref[1]]))
    every = {(m, name) for m in modules & package for name in defs[m]}
    return {f"{m[len(PKG) + 1:]}.{name}" for m, name in every - reached}


def test_every_package_module_is_reached_from_an_entry_point():
    package, reached = reachable_modules()
    assert len(package) > 20  # the walk really saw the package
    assert sorted(package - reached) == []


def test_every_package_function_is_reached_or_listed():
    unreached = unreached_definitions()
    dead = sorted(unreached - TEST_ONLY.keys())
    stale = sorted(TEST_ONLY.keys() - unreached)
    assert not dead, f"no entry point reaches {dead}"
    assert not stale, f"TEST_ONLY lists reached or missing {stale}"
