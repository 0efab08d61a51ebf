"""Layering guards, all AST scans of the source.

- The engine's lower layers (functions, operators, sources, streaming)
  must not import the query registry layer (plans).  Plans compose
  operators; an import the other way round ties a reusable operator or
  stream to one registry bank.
- Every def in functions/ and operators/ must have a caller outside
  tests/ and outside package ``__init__`` files: the library keeps one
  form per capability.
- A package ``__init__`` imports nothing: each name has one home, its
  defining module, and callers import it from there.
- No def in plans/, functions/ or operators/ imports a package module:
  the registry's source hash follows module globals, so a
  function-local import hides its callee from that hash."""

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


REPO_DIR = PKG_DIR.parent
CHECKED_LAYERS = ("functions", "operators")


def _references(tree: ast.AST):
    """Every name ``tree`` refers to: ``Name`` ids, ``Attribute`` attrs
    and import aliases. Strings, docstrings and comments are not
    references."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield from node.name.split(".")


def test_functions_and_operators_have_non_test_callers():
    """One form per capability: every top-level def and class in
    ``functions/`` and ``operators/`` is used inside its own module or
    referenced from a module outside ``tests/`` (a package ``__init__``
    re-export does not count). A def only tests call is a second form
    of something the engine does another way; delete it or route the
    engine through it."""
    sources = {
        path: ast.parse(path.read_text(), filename=str(path))
        for path in sorted(REPO_DIR.rglob("*.py"))
        if "tests" not in path.relative_to(REPO_DIR).parts
        and path.name != "__init__.py"
    }
    checked = [
        path
        for layer in CHECKED_LAYERS
        for path in sorted((PKG_DIR / layer).glob("*.py"))
        if path.name != "__init__.py"
    ]
    assert checked
    # A reference from the def's own module or from any other non-test
    # module counts, so one name set over every non-test source serves
    # all checked modules.
    referenced = {name for tree in sources.values() for name in _references(tree)}
    offenders = [
        f"{path.relative_to(PKG_DIR)}::{node.name}"
        for path in checked
        for node in sources[path].body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.name not in referenced
    ]
    assert not offenders, offenders


def test_package_inits_import_nothing():
    """No re-export facades: a package ``__init__`` holds its docstring
    (and, at the top level, ``__version__``) but no import, so every
    name is imported from the module that defines it."""
    offenders = [
        f"{path.relative_to(PKG_DIR)}:{node.lineno}"
        for path in sorted(PKG_DIR.rglob("__init__.py"))
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, (ast.Import, ast.ImportFrom))
    ]
    assert not offenders, offenders


HASHED_LAYERS = ("plans", "functions", "operators")


def test_no_function_local_package_imports():
    """Package imports sit at module level in the layers the registry's
    source hash walks (``plans/entry_hash_v2.py`` follows each entry's
    module globals): an import inside a def is invisible to that walk,
    so a change to the callee would leave the entry's hash unchanged."""
    offenders = set()
    for layer in HASHED_LAYERS:
        for path in sorted((PKG_DIR / layer).rglob("*.py")):
            tree = ast.parse(path.read_text(), filename=str(path))
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                for node in ast.walk(fn):
                    if isinstance(node, ast.Import):
                        names = [alias.name for alias in node.names]
                    elif isinstance(node, ast.ImportFrom):
                        names = ["." * node.level + (node.module or "")]
                    else:
                        continue
                    offenders.update(
                        f"{path.relative_to(PKG_DIR)}:{node.lineno} imports {name}"
                        for name in names
                        if name.startswith((PKG, "."))
                    )
    assert not offenders, sorted(offenders)
