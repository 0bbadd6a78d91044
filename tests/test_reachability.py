"""Every package module is reached by an import walk from an entry surface.

The entry surfaces are the driver contract (`__spark_entry__`, `oracles`),
`bench.py`, the CLI, every script under `tools/` and `perfbench/`. A module
that only its own tests import is dead weight: delete it, or wire it into
an entry surface. Static `ast` walk only — no package import, no Spark.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "social_media_data_pipeline_spark"

ENTRY_FILES = [
    "__spark_entry__.py",
    "bench.py",
    "oracles.py",
    os.path.join(PKG, "cli.py"),
    *sorted(
        os.path.relpath(p, ROOT)
        for d in ("tools", "perfbench")
        for p in glob.glob(os.path.join(ROOT, d, "*.py"))
    ),
]

# Unreached on purpose, each with its reason.
ALLOWED_UNREACHED = {
    # The pixel form of the reference's Exploration/plotting.py artifacts;
    # whether the exploratory stage emits PNGs is an open behaviour choice.
    f"{PKG}.analytics.png_render",
}


def package_modules() -> dict[str, str]:
    """Dotted module name -> file path for every module in the package."""
    mods = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
        if rel[-1] == "__init__":
            rel = rel[:-1]
        mods[".".join(rel)] = path
    return mods


def _imported_names(path: str, module: str | None, is_pkg: bool) -> set[str]:
    """Every dotted name an ``import`` anywhere in the file may load,
    function-local imports included. ``from a import b`` yields both
    ``a`` and ``a.b`` (``b`` may be a submodule)."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                if module is None:
                    continue
                parts = module.split(".")
                if not is_pkg:
                    parts = parts[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join([*parts, base] if base else parts)
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def reached_modules() -> set[str]:
    mods = package_modules()
    by_path = {os.path.relpath(p, ROOT): m for m, p in mods.items()}
    todo = [(os.path.join(ROOT, f), by_path.get(f), False) for f in ENTRY_FILES]
    reached = {by_path[f] for f in ENTRY_FILES if f in by_path}
    while todo:
        path, module, is_pkg = todo.pop()
        for name in _imported_names(path, module, is_pkg):
            parts = name.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                dotted = ".".join(parts[:i])
                if dotted in mods and dotted not in reached:
                    reached.add(dotted)
                    file = mods[dotted]
                    todo.append(
                        (file, dotted, file.endswith("__init__.py"))
                    )
    return reached


def test_every_package_module_is_reached():
    unreached = set(package_modules()) - reached_modules() - ALLOWED_UNREACHED
    assert not unreached, (
        "modules no entry surface imports: " + ", ".join(sorted(unreached))
    )


def test_allowlist_entries_are_still_unreached():
    # a stale allowlist entry hides nothing, but it misleads the reader
    mods = package_modules()
    reached = reached_modules()
    for name in ALLOWED_UNREACHED:
        assert name in mods, f"{name} no longer exists"
        assert name not in reached, f"{name} is reached now; drop it here"
