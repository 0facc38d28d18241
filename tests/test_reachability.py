"""Every package module is reached by a static import from an entry point,
or is named in ``UNREACHED``.

The roots are what runs the package: the driver contract
(``__spark_entry__.py``), the registry benchmark (``bench.py``), the tools,
the service benchmark (``perfbench/``), the API and the stream ingest. The
closure follows ``import a.b``, ``from a.b import c`` (``a.b.c`` counts when
it is a module) and relative imports, and an imported module brings in its
parent packages. Nothing is imported and no Spark session starts.

The check is an equality: a new module that nothing reaches fails it, and
so does deleting or wiring in a listed module without updating the list.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "clinical_api_etl_spark"

ROOTS = (
    "__spark_entry__.py",
    "bench.py",
    "tools/*.py",
    "perfbench/*.py",
    f"{PKG}/api.py",
    f"{PKG}/streaming/ingest.py",
)

# Imported by nothing but their own tests.
UNREACHED = {
    "functions.tablefuncs",
    "operators.mv",
    "sources.fileindex",
    "sources.jsonl",
    "sources.snapshots",
    "streaming.annindex",
    "streaming.corpus",
    "streaming.datacard",
    "streaming.drift",
    "streaming.fertility",
    "streaming.funnelmon",
    "streaming.invindex",
    "streaming.neardup",
}


def _package_modules() -> dict[str, Path]:
    """Dotted module name -> file, for every module of the package."""
    out = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _imported_names(path: Path, name: str) -> set[str]:
    """Every dotted name that ``path`` (module ``name``) imports, plus
    ``module.attr`` for each ``from module import attr``."""
    is_pkg = path.name == "__init__.py"
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".") if is_pkg else name.split(".")[:-1]
                anchor = anchor[: len(anchor) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _reached(modules: dict[str, Path]) -> set[str]:
    todo = [
        (p, ".".join(p.relative_to(ROOT).with_suffix("").parts))
        for pattern in ROOTS
        for p in sorted(ROOT.glob(pattern))
    ]
    seen: set[str] = set()
    while todo:
        path, name = todo.pop()
        for imported in _imported_names(path, name):
            parts = imported.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append((modules[mod], mod))
    return seen


def test_unreached_modules_are_exactly_the_listed_ones():
    modules = _package_modules()
    unreached = {
        m.removeprefix(f"{PKG}.") for m in set(modules) - _reached(modules)
    }
    assert unreached == UNREACHED


def test_every_root_exists():
    for pattern in ROOTS:
        assert list(ROOT.glob(pattern)), pattern
