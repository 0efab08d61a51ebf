"""Driver-gate ordering of the query registry, derived from the committed
CORRECTNESS artifacts.

The external driver checks only the first ~50 registry entries per round
(a budget, not a code failure — all entries are hash-green under the local
oracle gate, tests/test_oracle_parity.py).  Driver coverage is cumulative
across rounds, so entries that do NOT yet have a driver-green CORRECTNESS
row must lead the dict order.  Rounds 6 and 7 both hit the same staleness
trap by maintaining hardcoded ``_DRIVER_GREEN_R{N}`` tuples by hand; this
loader reads the committed ``CORRECTNESS_r*.json`` files instead, so the
rotation can never go stale again: never-driver-verified entries first,
then verified entries ordered stalest-first (oldest last-green round), so
any leftover budget re-verifies the most at-risk greens.

Purely a dict-ordering change — every (name, callable, oracle) triple is
unchanged, and no entry is ever excluded.  ``plans/queries.py`` builds
``QUERIES`` / ``ORACLE_SQL`` in declaration order and never imports this
module, so the hashing and artifact reads below cost only the caller that
asks for the driver's order: ``__spark_entry__.queries()`` /
``oracle_sql()`` via :func:`driver_ordered`.
"""

from __future__ import annotations

import functools
import json
import os
import re

from gtfs_realtime_etl_spark.plans.entry_hash_v2 import (
    entry_src_hash_v2 as _entry_src_hash,
)
from gtfs_realtime_etl_spark.plans.queries import ORACLE_SQL, QUERIES

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
#: Committed by scripts/update_green_manifest.py at round start: the
#: closure-aware v2 source hash (``plans/entry_hash_v2.py``) of each
#: entry AT THE TIME its latest green driver row landed.  An entry whose
#: current hash differs was rewritten after its verification and must
#: rotate forward like a never-green one (round-8 lesson: ann_pq_topk /
#: ann_recall_report shipped material rewrites on top of r07 greens and
#: the rotation never noticed; round-10 lesson: the v1 wrapper-only hash
#: missed kernel-level drift — epoch_shuffle's kernel extraction after
#: its r6 green was invisible until the v2 dry run).
_GREEN_MANIFEST_PATH = os.path.join(_REPO_ROOT, "GREEN_MANIFEST_V2.json")


def _load_green_manifest() -> dict[str, str]:
    try:
        with open(_GREEN_MANIFEST_PATH) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return {}
    if not isinstance(data, dict):
        return {}
    return {
        k: v.get("hash", "")
        for k, v in data.items()
        if isinstance(v, dict)
    }


def _driver_rows() -> dict[str, tuple[int, bool, bool]]:
    """Latest driver row per query: name -> (round, ok, value-verified).

    A row is ok when the driver recorded no error, matching row counts,
    and neither a schema nor a value-hash mismatch; value-verified means
    ``hash_match`` is True (rows-only rows have ``hash_match: null``)."""
    latest: dict[str, tuple[int, bool, bool]] = {}
    try:
        names = sorted(os.listdir(_REPO_ROOT))
    except OSError:
        return {}
    for fname in names:
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(os.path.join(_REPO_ROOT, fname)) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("err") is None
                and bool(row.get("rows_match"))
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            full = ok and row.get("hash_match") is True
            prev = latest.get(name)
            if prev is None or rnd >= prev[0]:
                latest[name] = (rnd, ok, full)
    return latest


def _load_driver_green() -> dict[str, tuple[int, bool]]:
    """Map query name -> (most recent green round, value-verified) for
    entries with a TRUSTWORTHY green driver row.

    ``value-verified`` is True only when ``hash_match`` is True —
    rows-only rows (``hash_match: null``) count as green but carry a
    weaker check, so the ordering puts them ahead of fully-verified
    greens for re-burn (r8 advice: the old code let value-unverified
    entries hide behind the green block forever).  If an entry's LATEST
    driver check was red, it is treated as never-green so it rotates
    back to the front of the queue.  Entries whose current source hash
    differs from the committed GREEN_MANIFEST hash (i.e. the
    implementation changed after the green row landed) are likewise
    excluded — the r8 lesson: a green row verifies the code that
    existed when it landed, nothing newer.
    """
    manifest = _load_green_manifest()
    out: dict[str, tuple[int, bool]] = {}
    for name, (rnd, ok, full) in _driver_rows().items():
        if not ok:
            continue
        fn = QUERIES.get(name)
        if fn is not None and manifest:
            if manifest.get(name) != _entry_src_hash(
                fn, ORACLE_SQL.get(name)
            ):
                continue  # rewritten since its green row — re-verify
        out[name] = (rnd, full)
    return out


def _driver_gate_order(d: dict, green: dict[str, tuple[int, bool]]) -> dict:
    """Order the registry so the driver's per-round correctness budget
    (a ~50-entry prefix) lands on the least-trusted entries first:

    1. latest-red or never-checked (original order) — known wrong or
       wholly unverified; these must always lead;
    2. changed-since-green (stalest green first) — code rewritten after
       verification;
    3. rows-only greens (value-unverified, stalest first);
    4. fully-verified greens stalest-first (original relative order as
       tie-break).

    ``green`` is :func:`_load_driver_green`'s result."""
    rows = _driver_rows()
    idx = {k: i for i, k in enumerate(d)}

    def front_key(k: str):
        row = rows.get(k)
        if row is None or not row[1]:
            return (0, 0, idx[k])  # red / never-checked
        return (1, row[0], idx[k])  # changed since its green row

    front_keys = sorted((k for k in d if k not in green), key=front_key)
    back_keys = sorted(
        (k for k in d if k in green),
        key=lambda k: (green[k][1], green[k][0], idx[k]),
    )
    return {
        **{k: d[k] for k in front_keys},
        **{k: d[k] for k in back_keys},
    }


@functools.cache
def driver_ordered() -> tuple[dict, dict]:
    """``(QUERIES, ORACLE_SQL)`` in driver-gate order, both ordered from
    one green set (computed on the first call, then cached)."""
    green = _load_driver_green()
    return _driver_gate_order(QUERIES, green), _driver_gate_order(
        ORACLE_SQL, green
    )
