"""Every kgraph_spark module must be reachable from a program entry point.

Walks the import graph over the AST, no Spark and no imports executed:
module-level and function-level (lazy) `kgraph_spark` imports both count,
and reaching a submodule reaches its packages' __init__ files. A module
that only tests import is dead weight the entry points never run."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "kgraph_spark"
ROOTS = [
    *sorted((REPO / "jobs").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
    *sorted((REPO / "tools").glob("*.py")),
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
    REPO / PACKAGE / "plans" / "report.py",
]


def module_files() -> dict[str, Path]:
    """Dotted module name -> file, for every .py file in the package."""
    out = {}
    for path in (REPO / PACKAGE).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def imported_modules(path: Path, modules: dict[str, Path]) -> set[str]:
    """The package modules a file imports anywhere in its body."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            # `from pkg import sub` imports pkg.sub when sub is a module
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            if name.split(".")[0] != PACKAGE:
                continue
            parts = name.split(".")
            # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
            found.update(
                ".".join(parts[:i]) for i in range(1, len(parts) + 1)
                if ".".join(parts[:i]) in modules
            )
    return found


def reached_from(roots: list[Path]) -> set[str]:
    modules = module_files()
    seen: set[str] = set()
    # a root inside the package runs as `python -m`, importing its packages
    in_package = [n for n, path in modules.items() if path in roots]
    todo = [m for m in modules for n in in_package if n == m or n.startswith(m + ".")]
    todo += [m for root in roots for m in imported_modules(root, modules)]
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo.extend(imported_modules(modules[mod], modules))
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    assert all(p.exists() for p in ROOTS), [str(p) for p in ROOTS if not p.exists()]
    unreached = sorted(set(module_files()) - reached_from(ROOTS))
    assert not unreached, f"modules only tests import: {unreached}"

