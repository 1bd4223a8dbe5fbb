"""Every module under ``thecrowler_spark/`` must be reachable from shipped
code: the spark-submit jobs, the scripts, the benchmark harness, the
query registry or the bench CLIs. A module that only tests import is a
second implementation nobody runs; this guard fails and names it.

Reachability is a pure ``ast`` walk over import statements (module
level and function local, absolute and relative), followed transitively
through the package. Importing ``a.b.c`` also reaches ``a`` and ``a.b``
because their ``__init__`` runs first."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "thecrowler_spark"


def _root_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py"]
    for d in ("jobs", "scripts", "perfbench"):
        files += [p for p in (ROOT / d).rglob("*.py") if "tests" not in p.parts]
    return files


def _package_modules() -> dict[str, Path]:
    mods = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = p.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = p
    return mods


def _imported_names(path: Path, modname: str) -> set[str]:
    """Every dotted name an import in ``path`` may refer to, plus the
    packages that import initializes on the way. ``modname`` is the
    module's dotted name, ``""`` for a root outside the package."""
    is_pkg = path.name == "__init__.py"
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = modname if is_pkg else modname.rpartition(".")[0]
                for _ in range(node.level - 1):
                    base = base.rpartition(".")[0]
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def orphan_modules() -> list[str]:
    mods = _package_modules()
    todo = [n for f in _root_files() for n in _imported_names(f, "") if n in mods]
    seen: set[str] = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        todo += [n for n in _imported_names(mods[m], m) if n in mods and n not in seen]
    return sorted(set(mods) - seen)


def test_every_package_module_is_reachable_from_shipped_code():
    orphans = orphan_modules()
    assert not orphans, f"modules no job, script, benchmark or query imports: {orphans}"
