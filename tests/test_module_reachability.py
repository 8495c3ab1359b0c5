"""Every package module must be reached from a root the system runs.

The roots are the query registry, the streaming pipeline, the driver
entry point, ``bench.py`` and the ``perfbench`` harness. The closure
follows every import, including the ones inside functions, through the
package and through ``tools.*`` (perfbench imports
``tools.measure_sf10_composite``). A module only tests import is dead
weight: give it a caller the system runs, or delete it with its tests.
The modules still in that state are listed in ``TEST_ONLY``.
Pure ``ast``, no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "ds_caselaw_ingester_spark"

ROOTS = (
    "ds_caselaw_ingester_spark/plans/registry.py",
    "ds_caselaw_ingester_spark/streaming/pipeline.py",
    "__spark_entry__.py",
    "bench.py",
    *sorted(
        str(p.relative_to(ROOT))
        for p in (ROOT / "perfbench").glob("*.py")
        if not p.name.startswith("test_")
    ),
)

# Reached only from an example (and its tests). Each stays because an
# example in examples/ runs it; a module added here needs one too.
EXAMPLE_BACKED = {
    "ds_caselaw_ingester_spark.operators.export",
    "ds_caselaw_ingester_spark.operators.report",
    "ds_caselaw_ingester_spark.operators.sketches",
    "ds_caselaw_ingester_spark.streaming.curation_sink",
    "ds_caselaw_ingester_spark.streaming.semdedup_sink",
    "ds_caselaw_ingester_spark.streaming.sketch_sink",
}

# Reached only from their own tests. They are queued for deletion on
# ROADMAP.md (direction 4); this list may only shrink.
TEST_ONLY = {
    "ds_caselaw_ingester_spark.operators.bucketing",
    "ds_caselaw_ingester_spark.operators.expectations",
    "ds_caselaw_ingester_spark.operators.packing",
    "ds_caselaw_ingester_spark.operators.quantize",
    "ds_caselaw_ingester_spark.operators.vocab",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _module_file(name: str) -> "Path | None":
    base = ROOT.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _imports(path: Path) -> "set[str]":
    """Every module name `path` imports, at any depth: for ``from m
    import x`` both m and m.x (x may be a submodule), plus m's parent
    packages, which Python imports first."""
    tree = ast.parse(path.read_text(), str(path))
    here = _module_name(path).split(".")
    if path.name != "__init__.py":
        here = here[:-1]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = here[: len(here) - node.level + 1]
                base = ".".join([*pkg, base] if base else pkg)
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def _reached() -> "set[str]":
    seen: set[str] = set()
    todo = [ROOT / r for r in ROOTS]
    while todo:
        path = todo.pop()
        name = _module_name(path)
        if name in seen:
            continue
        seen.add(name)
        for imp in _imports(path):
            if imp.split(".")[0] in (PACKAGE, "tools"):
                target = _module_file(imp)
                if target is not None:
                    todo.append(target)
    return seen


def test_every_package_module_is_reached_from_a_system_root():
    modules = {
        _module_name(p) for p in (ROOT / PACKAGE).rglob("*.py")
    }
    unreached = modules - _reached()
    expected = EXAMPLE_BACKED | TEST_ONLY
    assert unreached == expected, sorted(unreached ^ expected)
