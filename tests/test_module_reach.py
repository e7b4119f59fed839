"""Every ``json_skema_spark`` module must be reachable by imports from a
production entry point, so code that nothing runs cannot pile up unseen.

The walk is static: it parses each reached file and follows every
``import``/``from ... import`` statement in it, including the ones inside
function bodies (most of the package imports lazily). Importing
``a.b.c`` also reaches the packages ``a`` and ``a.b``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "json_skema_spark"

ENTRY_POINTS = (
    f"{PACKAGE}/__init__.py",
    f"{PACKAGE}/runner.py",
    f"{PACKAGE}/stream_runner.py",
    "__spark_entry__.py",
    "bench.py",
    "tools/oracle_check.py",
)

# Modules kept without a production import, each for a stated reason.
KEPT = {
    f"{PACKAGE}.plans.builder": "reference SchemaBuilder parity",
    f"{PACKAGE}.plans.render": "reference toJSON/toString parity",
    f"{PACKAGE}.sources.suite": "conformance gate (Test-Suite loader)",
    f"{PACKAGE}.sources.corpus": "conformance gate (schema corpus)",
}


def _module_files() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PACKAGE).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path) -> set[str]:
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            # `from pkg import sub` names the submodule pkg.sub
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def reached_modules() -> set[str]:
    mods = _module_files()
    todo = [ROOT / p for p in ENTRY_POINTS]
    reached = {m for m, path in mods.items() if path in todo}
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in mods and mod not in reached:
                    reached.add(mod)
                    todo.append(mods[mod])
    return reached


def test_every_module_has_a_production_importer():
    mods = set(_module_files())
    reached = reached_modules()
    assert sorted(mods - reached - set(KEPT)) == [], (
        "modules no entry point imports: give each a production caller or "
        "delete it")
    # a kept module that is deleted or gains a production importer leaves
    # the list, so the list cannot grow stale
    assert sorted(set(KEPT) - (mods - reached)) == []
