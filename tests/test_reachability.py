"""Every module under dedupe_spark/ is reached from an entry point.

Follows ``dedupe_spark`` imports (module-level and in-function, absolute
and relative) with ``ast`` from the pipeline, streaming ingest, the
scripts, ``__spark_entry__.py`` and the benchmark. A
module none of them reaches is dead code and fails this test. No Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "dedupe_spark"

ENTRY_POINTS = [
    ROOT / PKG / "pipeline.py",
    ROOT / PKG / "streaming" / "dedupe_stream.py",
    ROOT / "__spark_entry__.py",
]
ROOTS = [
    *ENTRY_POINTS,
    *sorted((ROOT / "scripts").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def _module_file(name: str) -> Path | None:
    base = ROOT / Path(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path: Path) -> set[str]:
    """Package modules ``path`` imports, including parent packages."""
    own = _module_name(path).split(".")
    package = own if path.name == "__init__.py" else own[:-1]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            found.add(base)
            # ``from pkg import mod`` names a submodule
            found.update(f"{base}.{a.name}" for a in node.names)
    modules = set()
    for name in found:
        if name == PKG or name.startswith(PKG + "."):
            parts = name.split(".")
            modules.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {m for m in modules if _module_file(m) is not None}


def reached_modules() -> set[str]:
    seen: set[str] = set()
    todo = [p for p in ROOTS if p.is_file()]
    while todo:
        path = todo.pop()
        for mod in _imports(path) - seen:
            seen.add(mod)
            todo.append(_module_file(mod))
    return seen


def test_every_package_module_is_reached():
    missing = [str(p.relative_to(ROOT)) for p in ENTRY_POINTS if not p.is_file()]
    assert not missing, f"entry points moved or renamed: {missing}"
    reached = reached_modules()
    unreached = sorted(
        _module_name(p)
        for p in (ROOT / PKG).rglob("*.py")
        if _module_name(p) not in reached
    )
    assert not unreached, f"modules no entry point imports: {unreached}"

