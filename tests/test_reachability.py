"""Every package module, and every top-level definition in a reached
module, is reached from an entry surface.

The entry surfaces are the driver contract (`__spark_entry__`, `oracles`),
`bench.py`, the CLI, every script under `tools/` and `perfbench/`.

Modules: an import walk from the entry files. A module that only its own
tests import is dead weight: delete it, or wire it into an entry surface.

Definitions: a top-level `def`, `class` or multi-line module-level table
(an assignment spanning more than one line) is live when live code names
it, repeated to a fixpoint. Live code is the entry files, the
module-level statements of every reached package module, and the bodies
of live definitions. A name is an `ast.Name`, the attribute of an
`ast.Attribute` or an imported name; strings and tests do not count (no
live code dispatches by string). The match is by bare name, so one live
use of a common name keeps every definition that shares it.

Static `ast` walk only — no package import, no Spark.
"""

from __future__ import annotations

import ast
import glob
import os
import re

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

# Definitions kept although no entry surface reaches them. Every entry
# gives one of four reasons:
#   (a) it is the COVERAGE.md §2.x implementation of the named SURVEY.md
#       §2 operator ID;
#   (b) it is the production deployment adapter;
#   (c) it belongs to the open plotting behaviour (the text charts the
#       exploratory report could render next to the PNG renderer);
#   (d) retention: it stays until the long-stream soak settles whether
#       a stream reclaims superseded files.
# To add an entry, name the definition as `module.def` and start its
# reason with the letter and, for (a), the operator ID.
ALLOWED_UNREACHED_DEFS = {
    f"{PKG}.io.read_csv_with_arrays": "(a) S1 CSV scan with converters",
    f"{PKG}.operators.filters.filter_text_contains_any": "(a) P7 substring any-of",
    f"{PKG}.operators.filters.apply_filter_observed": "(a) P13 filter instrumentation",
    f"{PKG}.operators.filters.select_numeric_columns": "(a) P14 numeric-dtype selection",
    f"{PKG}.operators.joins.explode_post_images": "(a) J5 explode + existence join",
    f"{PKG}.sources.json_flatten.image_link_table": "(a) J5 post-image link table",
    f"{PKG}.operators.sort.top_k_array": "(a) O4 per-row top-k",
    f"{PKG}.sources.json_flatten.extract_comments": "(a) F7 comments table",
    f"{PKG}.sources.json_flatten.flatten_minimal": "(a) F7 minimal post table",
    f"{PKG}.sources.rest.ChunkedTimeRangeSource": "(a) S6 chunked time-range source",
    f"{PKG}.sources.rest.RequestsHttpClient": "(b) requests-backed HTTP transport",
    f"{PKG}.analytics.report.render_table": "(c) markdown table section",
    f"{PKG}.analytics.report.dual_timeseries_chart": "(c) dualplot_timeseries",
    f"{PKG}.analytics.report.category_timeseries_chart": "(c) catplot",
    f"{PKG}.analytics.report.correlation_heatmap": "(c) plot_correlation",
    f"{PKG}.scale.vacuum_table": "(d) the only reclaimer of unreferenced files",
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


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _imported_names(path: str, module: str | None, is_pkg: bool) -> set[str]:
    """Every dotted name an ``import`` anywhere in the file may load,
    function-local imports included. ``from a import b`` yields both
    ``a`` and ``a.b`` (``b`` may be a submodule)."""
    names = set()
    for node in ast.walk(_parse(path)):
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


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
    return out


def _definition_name(stmt: ast.stmt) -> str | None:
    """The name a top-level def, class or multi-line table binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return stmt.name
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)) and stmt.end_lineno > stmt.lineno:
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        if len(targets) == 1 and isinstance(targets[0], ast.Name):
            return targets[0].id
    return None


def unreached_definitions(
    modules: dict[str, ast.Module], entries: list[ast.Module]
) -> tuple[set[str], set[str]]:
    """(every `module.def`, the ones no live code names) over the parsed
    package `modules` (entry modules excluded: all their code is live)
    and the parsed `entries`."""
    live: set[str] = set()
    for tree in entries:
        live |= _names(tree)
    defs: dict[str, tuple[str, ast.stmt]] = {}
    for mod, tree in modules.items():
        for stmt in tree.body:
            name = _definition_name(stmt)
            if name is None:
                live |= _names(stmt)
            else:
                defs[f"{mod}.{name}"] = (name, stmt)
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for key, (name, stmt) in defs.items():
            if key not in reached and name in live:
                reached.add(key)
                live |= _names(stmt)
                grew = True
    return set(defs), set(defs) - reached


def _scan(plant: tuple[str, str] | None = None) -> tuple[set[str], set[str]]:
    """`unreached_definitions` over the reached, non-entry package
    modules; `plant` = (module, source) appends source to one module."""
    mods = package_modules()
    entry_paths = {os.path.join(ROOT, f) for f in ENTRY_FILES}
    modules = {}
    for mod in reached_modules():
        if mods[mod] in entry_paths:
            continue
        with open(mods[mod], encoding="utf-8") as fh:
            src = fh.read()
        if plant and plant[0] == mod:
            src += plant[1]
        modules[mod] = ast.parse(src)
    entries = [_parse(os.path.join(ROOT, f)) for f in ENTRY_FILES]
    return unreached_definitions(modules, entries)


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


def test_every_top_level_definition_is_reached():
    _, unreached = _scan()
    left = unreached - set(ALLOWED_UNREACHED_DEFS)
    assert not left, (
        "definitions no entry surface reaches (delete them with their "
        "tests, wire them in, or allowlist them with a reason): "
        + ", ".join(sorted(left))
    )


def test_def_allowlist_entries_are_reasoned_and_still_unreached():
    defs, unreached = _scan()
    for name, reason in ALLOWED_UNREACHED_DEFS.items():
        assert re.match(r"\((a\) [A-Z]\d+|[bcd]\)) \S", reason), (
            f"{name}: reason must start with (a) <operator ID>, (b), (c) or (d)"
        )
        assert name in defs, f"{name} no longer exists"
        assert name in unreached, f"{name} is reached now; drop it here"


def test_def_guard_flags_a_planted_test_only_definition():
    mod = f"{PKG}.scale"
    plant = "\n\ndef _planted_for_tests_only(df):\n    return df.limit(1)\n"
    _, unreached = _scan(plant=(mod, plant))
    assert f"{mod}._planted_for_tests_only" in unreached
    # named from a live definition, the same def is reached
    called = plant + "\n\ndef fold_store(*a):\n    return _planted_for_tests_only(*a)\n"
    _, unreached = _scan(plant=(mod, called))
    assert f"{mod}._planted_for_tests_only" not in unreached
