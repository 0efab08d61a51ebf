"""Registry queries share no session state.

Every registry entry is a function of ``(spark, sf_dir)`` alone: a
query's plan, cost and result must not depend on which queries ran
before it in the same SparkSession.  Two guards:

- no module under ``plans/`` binds a module-level name to an empty
  mutable container (the shape of a cross-query result cache);
- the entries that once read such caches build plans that scan no
  cached (``InMemoryRelation``) data.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import gtfs_realtime_etl_spark
from tests.conftest import SF_SMOKE

PLANS_DIR = Path(gtfs_realtime_etl_spark.__file__).parent / "plans"

#: Module-level containers that are allowed, each with its reason.
ALLOWED = {
    ("staging.py", "_REAP_REGISTERED"): (
        "records stage directories that atexit must remove, not query results"
    ),
}

_EMPTY_CALLS = {
    "dict",
    "list",
    "set",
    "OrderedDict",
    "Counter",
    "deque",
    "defaultdict",
    "WeakKeyDictionary",
    "WeakValueDictionary",
}


def _is_empty_container(node: ast.expr) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    if isinstance(node, ast.Call):
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        # defaultdict's one positional argument is its factory
        n_args = len(node.args) - (name == "defaultdict")
        return name in _EMPTY_CALLS and n_args <= 0 and not node.keywords
    return False


def _module_level_bindings(body):
    """``(name, value)`` for every assignment at module level, including
    those nested in module-level ``if``/``try``/``with`` blocks."""
    for node in body:
        if isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    yield target.id, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            if isinstance(node.target, ast.Name):
                yield node.target.id, node.value
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            for block in ("body", "orelse", "finalbody"):
                yield from _module_level_bindings(getattr(node, block, []))
            for handler in getattr(node, "handlers", []):
                yield from _module_level_bindings(handler.body)


def test_plans_bind_no_module_level_mutable_containers():
    modules = sorted(PLANS_DIR.rglob("*.py"))
    assert modules
    found = set()
    for path in modules:
        tree = ast.parse(path.read_text(), filename=str(path))
        for name, value in _module_level_bindings(tree.body):
            if _is_empty_container(value):
                found.add((str(path.relative_to(PLANS_DIR)), name))
    offenders = sorted(found - ALLOWED.keys())
    assert not offenders, (
        "module-level mutable containers under plans/ keep state across "
        f"registry queries: {offenders}"
    )
    assert found >= ALLOWED.keys(), "stale ALLOWED entry"


#: The entries that read the former MinHash-pair, centroid and BPE-fit
#: session caches.
FORMER_CACHE_READERS = (
    "minhash_lsh_pairs",
    "dedup_clusters",
    "dedup_survivors",
    "leakage_audit",
    "dedup_agreement",
    "ann_ivf_topk",
    "semantic_dedup",
    "bpe_train",
    "bpe_encode_stats",
)


@pytest.mark.parametrize("name", FORMER_CACHE_READERS)
def test_query_plan_reads_no_cached_data(spark, name):
    from gtfs_realtime_etl_spark.plans.queries import QUERIES

    df = QUERIES[name](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
