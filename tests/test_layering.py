"""Layering guard: the engine's lower layers (functions, operators,
sources, streaming) must not import the query registry layer (plans).
Plans compose operators; an import the other way round ties a reusable
operator or stream to one registry bank."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import gtfs_realtime_etl_spark

PKG = "gtfs_realtime_etl_spark"
PKG_DIR = Path(gtfs_realtime_etl_spark.__file__).parent
LOWER_LAYERS = ("functions", "operators", "sources", "streaming")
PLANS = f"{PKG}.plans"


def _imported_modules(path: Path):
    """Absolute names of every module ``path`` imports (relative
    imports resolved against the module's package)."""
    package = ".".join((PKG, *path.relative_to(PKG_DIR).parent.parts))
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                module = f"{base}.{node.module}" if node.module else base
            else:
                module = node.module
            yield module
            # ``from gtfs_realtime_etl_spark import plans``
            yield from (f"{module}.{alias.name}" for alias in node.names)


@pytest.mark.parametrize("layer", LOWER_LAYERS)
def test_lower_layers_do_not_import_plans(layer):
    modules = sorted((PKG_DIR / layer).rglob("*.py"))
    assert modules, f"no modules under {layer}/"
    offenders = [
        f"{path.relative_to(PKG_DIR)} imports {name}"
        for path in modules
        for name in _imported_modules(path)
        if name == PLANS or name.startswith(PLANS + ".")
    ]
    assert not offenders, offenders
