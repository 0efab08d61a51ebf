"""Closure-aware registry entry hash (v2): the source hash the
driver-gate ordering (``plans/driver_order.py``) compares against
GREEN_MANIFEST_V2.json.

The v1 hash covers only the query function's own source plus its
oracle SQL.  Most registry entries are thin ``q_`` wrappers over
testable kernels (``spearman_moments``, ``funnel_levels``,
``assortativity_report``, ``flagship_day_partials``, ...), so a
kernel-only edit leaves the v1 hash unchanged and the rotation keeps
trusting a driver row that verified different math (the round-8
ann_pq_topk failure class, reopened at file granularity whenever a
kernel is extracted — round-10 review finding).

v2 walks the function's global references transitively (bounded
depth), hashing:

- the source of every reached FUNCTION defined inside the
  ``gtfs_realtime_etl_spark`` package (kernels, helpers, their
  helpers), in deterministic (module, qualname) order;
- the ``repr`` of every reached module-level CONSTANT of a simple
  type (str/int/float/bool/tuple/frozenset) — SQL fragments and
  tuning constants like ``EWMA_LAGS`` change semantics without
  changing any function's source;
- the oracle SQL, as before.

Residual blindness (documented, accepted): class attributes, closures
created at runtime, dict/list module constants (unhashable reprs are
included via repr too, but insertion order could differ across
versions), and anything reached only through dynamic dispatch.  A
callee imported inside a function body would be invisible too, since
the walk reads module globals; ``tests/test_layering.py`` bars such
imports in ``plans/``, ``functions/`` and ``operators/``.

This module is STANDALONE (stdlib only — no pyspark, no package
imports) and lives inside the package so installed / packaged
deployments can order the registry without a repo-root checkout.
The v2 hash has been the live rotation hash since round 11.
"""

from __future__ import annotations

import hashlib
import inspect
import types

_PKG = "gtfs_realtime_etl_spark"
_MAX_DEPTH = 4
_CONST_TYPES = (str, int, float, bool, tuple, frozenset, bytes)


def _walk(fn, depth: int, seen: set, out: dict) -> None:
    """Collect (sort_key -> text) for fn and its same-package callees."""
    try:
        key = f"{fn.__module__}.{fn.__qualname__}"
    except AttributeError:
        return
    if key in seen:
        return
    seen.add(key)
    try:
        out[key] = inspect.getsource(fn)
    except (OSError, TypeError):
        out[key] = repr(fn)
        return
    if depth >= _MAX_DEPTH:
        return
    g = getattr(fn, "__globals__", {})
    codes = [fn.__code__]
    # Nested code objects (lambdas / inner defs) reference globals too.
    # Iterate the GROWING list (a worklist) so nesting expands
    # transitively: a ``list(codes)`` snapshot here only reached depth-1
    # nested code, silently excluding globals referenced solely from a
    # lambda inside an inner def (round-10 advisor finding — exactly the
    # silent-re-trust blind spot v2 exists to close).
    for c in codes:
        codes.extend(
            k for k in c.co_consts if isinstance(k, types.CodeType)
        )
    names: set[str] = set()
    for c in codes:
        names.update(c.co_names)
    for name in sorted(names):
        obj = g.get(name)
        if obj is None:
            continue
        if isinstance(obj, types.FunctionType) and getattr(
            obj, "__module__", ""
        ).startswith(_PKG):
            _walk(obj, depth + 1, seen, out)
        elif isinstance(obj, _CONST_TYPES):
            ckey = f"{fn.__module__}::{name}"
            out.setdefault(ckey, repr(obj))


def entry_src_hash_v2(fn, oracle: str | None) -> str:
    """Closure-aware hash of a registry entry's implementation surface."""
    out: dict[str, str] = {}
    _walk(fn, 0, set(), out)
    h = hashlib.sha256()
    for key in sorted(out):
        h.update(key.encode())
        h.update(b"\x00")
        h.update(out[key].encode())
        h.update(b"\x00")
    h.update((oracle or "").encode())
    return h.hexdigest()
