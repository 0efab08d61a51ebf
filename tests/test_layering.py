"""Layering guards, all AST scans of the source.

- The engine's lower layers (functions, operators, sources, streaming)
  must not import the query registry layer (plans).  Plans compose
  operators; an import the other way round ties a reusable operator or
  stream to one registry bank.
- Every def in the lower layers must have a caller outside tests/ and
  outside package ``__init__`` files, unless a named exemption gives
  the reason it stays: the library keeps one form per capability.
- A package ``__init__`` imports nothing: each name has one home, its
  defining module, and callers import it from there.
- No def in plans/, functions/, operators/, sources/ or streaming/
  imports a package module: a function-local import hides a dependency,
  and any import cycle, until the def first runs.
- No def anywhere in the package re-imports a name its module already
  imports at module level.
- Every defaulted parameter of a public def in functions/, operators/,
  sources/, streaming/ and plans/ is set to another value by some call
  outside tests/: an option only tests set is a constant."""

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

#: Lower-layer defs that stay although no non-test code reaches them,
#: each with the reason it stays.
NO_CALLER_EXEMPT = {
    "streaming/ingest.py::start_feed_kafka_stream": (
        "BASELINE's Kafka source; it needs a connector jar to run"
    ),
    "streaming/dedup_fold.py::start_dedup_fold_stream": (
        "the streaming dedup surface the roadmap's north star names"
    ),
    "streaming/dedup_fold.py::finalize_fold": (
        "reads back what start_dedup_fold_stream folds"
    ),
}


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


def _lower_layer_defs() -> dict[str, bool]:
    """``layer/module.py::name`` of every top-level def and class in the
    lower layers, mapped to whether it is used inside its own module or
    referenced from a module outside ``tests/`` (a package ``__init__``
    re-export does not count)."""
    sources = {
        path: ast.parse(path.read_text(), filename=str(path))
        for path in sorted(REPO_DIR.rglob("*.py"))
        if "tests" not in path.relative_to(REPO_DIR).parts
        and path.name != "__init__.py"
    }
    # A reference from the def's own module or from any other non-test
    # module counts, so one name set over every non-test source serves
    # all checked modules.
    referenced = {name for tree in sources.values() for name in _references(tree)}
    return {
        f"{path.relative_to(PKG_DIR)}::{node.name}": node.name in referenced
        for layer in LOWER_LAYERS
        for path in sorted((PKG_DIR / layer).glob("*.py"))
        if path.name != "__init__.py"
        for node in sources[path].body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }


def test_lower_layers_have_non_test_callers():
    """One form per capability: every top-level def and class in
    ``functions/``, ``operators/``, ``sources/`` and ``streaming/`` has
    a non-test caller, unless :data:`NO_CALLER_EXEMPT` names it. A def
    only tests call is a second form of something the engine does
    another way; delete it or route the engine through it."""
    defs = _lower_layer_defs()
    assert defs
    offenders = [
        name
        for name, called in defs.items()
        if not called and name not in NO_CALLER_EXEMPT
    ]
    assert not offenders, offenders


def test_caller_exemptions_are_current():
    """Each exemption names a def that exists and still has no non-test
    caller, so a stale entry fails instead of outliving its reason."""
    defs = _lower_layer_defs()
    stale = [name for name in NO_CALLER_EXEMPT if defs.get(name, True)]
    assert not stale, stale


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


IMPORT_GUARDED_LAYERS = ("plans", *LOWER_LAYERS)


def test_no_function_local_package_imports():
    """Package imports sit at module level in every layer: an import
    inside a def hides a dependency, and any import cycle, until the def
    first runs."""
    offenders = set()
    for layer in IMPORT_GUARDED_LAYERS:
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


def _import_names(node: ast.Import | ast.ImportFrom):
    """The names an import statement binds in its scope."""
    for alias in node.names:
        if alias.name != "*":
            yield alias.asname or alias.name.split(".")[0]


def test_no_function_local_reimports():
    """A def does not re-import a name its module already imports at
    module level: the local import only shadows the same binding."""
    offenders = set()
    for path in sorted(PKG_DIR.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        fns = [
            node
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        local = {
            node
            for fn in fns
            for node in ast.walk(fn)
            if isinstance(node, (ast.Import, ast.ImportFrom))
        }
        module_level = {
            name
            for node in ast.walk(tree)
            if isinstance(node, (ast.Import, ast.ImportFrom)) and node not in local
            for name in _import_names(node)
        }
        offenders.update(
            f"{path.relative_to(PKG_DIR)}:{node.lineno} re-imports {name}"
            for node in local
            for name in _import_names(node)
            if name in module_level
        )
    assert not offenders, sorted(offenders)


DEFAULTED_LAYERS = ("functions", "operators", "sources", "streaming", "plans")


def _public_defs(tree: ast.Module):
    """(def, is_method) for every public top-level def and every public
    method of a public top-level class."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not node.name.startswith("_"):
                yield node, False
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for sub in node.body:
                if isinstance(
                    sub, (ast.FunctionDef, ast.AsyncFunctionDef)
                ) and not sub.name.startswith("_"):
                    yield sub, True


def _defaulted_params(fn, is_method: bool):
    """(position at a call site or None if keyword-only, name, default
    source text) for each defaulted parameter of ``fn``."""
    args = fn.args
    positional = args.posonlyargs + args.args
    first = len(positional) - len(args.defaults)
    shift = 1 if is_method else 0  # ``self`` is not passed at the call
    for i, (arg, default) in enumerate(
        zip(positional[first:], args.defaults), start=first
    ):
        yield i - shift, arg.arg, ast.unparse(default)
    for arg, default in zip(args.kwonlyargs, args.kw_defaults):
        if default is not None:
            yield None, arg.arg, ast.unparse(default)


def _sets(call: ast.Call, position: int | None, name: str, default: str) -> bool:
    """Whether ``call`` passes parameter ``name`` (at ``position``) a
    value whose source text differs from ``default``."""
    for kw in call.keywords:
        if kw.arg == name and ast.unparse(kw.value) != default:
            return True
    if position is None or position >= len(call.args):
        return False
    if any(isinstance(a, ast.Starred) for a in call.args[: position + 1]):
        return False
    return ast.unparse(call.args[position]) != default


def test_defaults_are_set_by_some_caller():
    """Options: a parameter earns its default only when two callers,
    not counting tests, need different values.  So each defaulted
    parameter of a public def in the engine's layers is set to another
    value by at least one call outside ``tests/`` (engine, scripts,
    benchmark, entry points).  Calls match defs by name, like the
    caller guard above.  A default that only tests override is a module
    constant (tests patch it or pick inputs that reach its branches) or
    an inlined literal; a branch only another value reaches is dead
    code."""
    calls: dict[str, list[ast.Call]] = {}
    for path in sorted(REPO_DIR.rglob("*.py")):
        if "tests" in path.relative_to(REPO_DIR).parts:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Call):
                func = node.func
                if isinstance(func, ast.Name):
                    calls.setdefault(func.id, []).append(node)
                elif isinstance(func, ast.Attribute):
                    calls.setdefault(func.attr, []).append(node)
    offenders = [
        f"{path.relative_to(PKG_DIR)}::{fn.name}({name}={default})"
        for layer in DEFAULTED_LAYERS
        for path in sorted((PKG_DIR / layer).rglob("*.py"))
        for fn, is_method in _public_defs(ast.parse(path.read_text()))
        for position, name, default in _defaulted_params(fn, is_method)
        if not any(
            _sets(call, position, name, default) for call in calls.get(fn.name, [])
        )
    ]
    assert not offenders, offenders
