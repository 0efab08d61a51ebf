"""Closure-aware entry hash v2 (the live rotation hash since round
11): a kernel-only or constant-only edit must change the wrapper's
hash; unrelated edits must not.  The implementation lives in the
package (``plans/entry_hash_v2.py``); the driver-gate rotation that
uses it is ``plans/driver_order.py``."""

from __future__ import annotations

import importlib.util
import os
import sys

from gtfs_realtime_etl_spark.plans.entry_hash_v2 import (
    _walk,
    entry_src_hash_v2,
)

_BASE = '''
KONST = 7

def helper_of_kernel(x):
    return x + 1

def kernel(x):
    return helper_of_kernel(x) * KONST

def unrelated(x):
    return x - 1

def wrapper(x):
    return kernel(x)
'''


def _load_fake(tmp_path, src: str, tag: str):
    """Load ``src`` as a module whose __name__ sits inside the target
    package namespace (the v2 walker only follows package functions).
    All variants share ONE module name — the migration compares the
    same module across commits, and the module name participates in
    the hash keys by design (it names the implementation site)."""
    p = tmp_path / f"fake_{tag}.py"
    p.write_text(src)
    name = "gtfs_realtime_etl_spark._hashv2_fake"
    spec = importlib.util.spec_from_file_location(name, str(p))
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_kernel_edit_changes_wrapper_hash(tmp_path):
    a = _load_fake(tmp_path, _BASE, "a")
    b = _load_fake(
        tmp_path, _BASE.replace("* KONST", "* KONST + 1"), "b"
    )
    # v1 blindness this closes: wrapper source is identical in both.
    import inspect

    assert inspect.getsource(a.wrapper) == inspect.getsource(b.wrapper)
    assert entry_src_hash_v2(a.wrapper, "SELECT 1") != entry_src_hash_v2(
        b.wrapper, "SELECT 1"
    )


def test_transitive_helper_edit_changes_wrapper_hash(tmp_path):
    a = _load_fake(tmp_path, _BASE, "c")
    b = _load_fake(tmp_path, _BASE.replace("x + 1", "x + 2"), "d")
    assert entry_src_hash_v2(a.wrapper, None) != entry_src_hash_v2(
        b.wrapper, None
    )


def test_constant_edit_changes_wrapper_hash(tmp_path):
    a = _load_fake(tmp_path, _BASE, "e")
    b = _load_fake(tmp_path, _BASE.replace("KONST = 7", "KONST = 8"), "f")
    assert entry_src_hash_v2(a.wrapper, None) != entry_src_hash_v2(
        b.wrapper, None
    )


def test_unrelated_edit_keeps_wrapper_hash(tmp_path):
    a = _load_fake(tmp_path, _BASE, "g")
    b = _load_fake(tmp_path, _BASE.replace("x - 1", "x - 2"), "h")
    assert entry_src_hash_v2(a.wrapper, None) == entry_src_hash_v2(
        b.wrapper, None
    )
    # Oracle still participates.
    assert entry_src_hash_v2(a.wrapper, "A") != entry_src_hash_v2(
        a.wrapper, "B"
    )


def test_walk_reaches_real_kernel_behind_real_wrapper():
    """The concrete blind spot from the round-10 review: the
    assortativity kernel must be inside the wrapper's hashed surface."""
    from gtfs_realtime_etl_spark.plans.analytics19 import (
        q_degree_assortativity,
    )

    out: dict = {}
    _walk(q_degree_assortativity, 0, set(), out)
    keys = "\n".join(out)
    assert "assortativity_report" in keys
    # Depth >= 2: the kernel's own package callees are reached too
    # (spearman's wrapper -> moments -> quantize chain as the witness).
    from gtfs_realtime_etl_spark.plans.analytics20 import q_spearman_corr

    out2: dict = {}
    _walk(q_spearman_corr, 0, set(), out2)
    k2 = "\n".join(out2)
    assert "spearman_moments" in k2 and "quantize_spearman_components" in k2


_DEEP_NEST = '''
HIDDEN_CONST = 11

def deep_helper(x):
    return x * 3

def wrapper(x):
    def inner(y):
        f = lambda z: deep_helper(z) + HIDDEN_CONST
        return f(y)
    return inner(x)
'''


def test_depth2_nested_code_reaches_globals(tmp_path):
    """Round-10 advisor finding: a global referenced ONLY from a lambda
    inside an inner def (depth-2 nested code) must participate in the
    hash — both the constant and the function arm."""
    a = _load_fake(tmp_path, _DEEP_NEST, "n1")
    out: dict = {}
    _walk(a.wrapper, 0, set(), out)
    keys = "\n".join(out)
    assert "deep_helper" in keys, "depth-2 function reference missed"
    assert "HIDDEN_CONST" in keys, "depth-2 constant reference missed"
    b = _load_fake(
        tmp_path, _DEEP_NEST.replace("HIDDEN_CONST = 11", "HIDDEN_CONST = 12"), "n2"
    )
    c = _load_fake(
        tmp_path, _DEEP_NEST.replace("x * 3", "x * 4"), "n3"
    )
    assert entry_src_hash_v2(a.wrapper, None) != entry_src_hash_v2(b.wrapper, None)
    assert entry_src_hash_v2(a.wrapper, None) != entry_src_hash_v2(c.wrapper, None)


def test_hash_is_deterministic_across_loads(tmp_path):
    a = _load_fake(tmp_path, _BASE, "i")
    b = _load_fake(tmp_path, _BASE, "j")
    # Identical source under the same module name, loaded twice from
    # different files: hashes must agree (the file PATH must not leak
    # into the hash — historical worktrees live at arbitrary paths).
    assert entry_src_hash_v2(a.wrapper, "X") == entry_src_hash_v2(
        b.wrapper, "X"
    )


# ---------------------------------------------------------------------------
# Live-rotation integration (round-11 flip): the rotation's
# _entry_src_hash IS the v2 implementation, the manifest path points at
# the v2 file, and a kernel-only edit provably moves an entry into the
# rotation front.
# ---------------------------------------------------------------------------


def test_live_rotation_uses_v2_hash():
    from gtfs_realtime_etl_spark.plans import driver_order as q

    assert os.path.basename(q._GREEN_MANIFEST_PATH) == "GREEN_MANIFEST_V2.json"
    # Same function object semantics: identical output on a real entry.
    fn = q.QUERIES["spearman_corr"]
    oracle = q.ORACLE_SQL.get("spearman_corr")
    assert q._entry_src_hash(fn, oracle) == entry_src_hash_v2(fn, oracle)


def test_kernel_edit_fronts_entry_in_live_rotation(tmp_path, monkeypatch):
    """End-to-end against the live rotation functions: an entry whose
    manifest hash was recorded for kernel-variant A is trusted (back
    block); after a kernel-only edit (wrapper source unchanged) the SAME
    manifest row no longer vouches and the entry joins the front."""
    import json

    from gtfs_realtime_etl_spark.plans import driver_order as q

    name = "_hashv2_fake_entry"
    mod_a = _load_fake(tmp_path, _BASE, "ra")
    manifest = {
        name: {"hash": q._entry_src_hash(mod_a.wrapper, "SELECT 1"), "round": 9}
    }
    mpath = tmp_path / "fake_manifest.json"
    mpath.write_text(json.dumps(manifest))
    monkeypatch.setattr(q, "_GREEN_MANIFEST_PATH", str(mpath))
    monkeypatch.setattr(
        q, "_driver_rows", lambda: {name: (9, True, True)}
    )
    monkeypatch.setitem(q.QUERIES, name, mod_a.wrapper)
    monkeypatch.setitem(q.ORACLE_SQL, name, "SELECT 1")
    try:
        green = q._load_driver_green()
        assert name in green, "variant A should be trusted"
        order = q._driver_gate_order({name: mod_a.wrapper}, green)

        # Kernel-only edit: wrapper source identical, kernel differs.
        mod_b = _load_fake(tmp_path, _BASE.replace("* KONST", "* KONST + 1"), "rb")
        import inspect

        assert inspect.getsource(mod_a.wrapper) == inspect.getsource(mod_b.wrapper)
        monkeypatch.setitem(q.QUERIES, name, mod_b.wrapper)
        green = q._load_driver_green()
        assert name not in green, (
            "kernel-only drift must evict the entry from the trusted set"
        )
        order = q._driver_gate_order({name: mod_b.wrapper}, green)
        assert list(order) == [name]  # fronted (only entry, front block)
    finally:
        q.QUERIES.pop(name, None)
        q.ORACLE_SQL.pop(name, None)


def _reached(name: str) -> set[str]:
    from gtfs_realtime_etl_spark.plans.queries import QUERIES

    out: dict[str, str] = {}
    _walk(QUERIES[name], 0, set(), out)
    return set(out)


def test_walk_reaches_kernel_of_ann_pq_topk():
    """``q_ann_pq_topk`` calls ``pq_adc_topk``; an edit to that kernel
    must change the entry's hash."""
    assert (
        "gtfs_realtime_etl_spark.operators.similarity.pq_adc_topk"
        in _reached("ann_pq_topk")
    )


def test_walk_reaches_entries_composed_by_dedup_agreement():
    """``dedup_agreement`` runs three other registry entries; an edit to
    one of them (here ``q_minhash_lsh_pairs``) must change its hash."""
    assert any(
        key.endswith(".q_minhash_lsh_pairs") for key in _reached("dedup_agreement")
    )
