"""Refresh the live green manifest (GREEN_MANIFEST_V2.json since the
round-11 v2 flip) — run at ROUND START, while the
working tree still equals the round-end commit the external driver
just verified (CORRECTNESS_r{N}.json was produced against exactly
these sources).

For every registry entry whose LATEST driver row is green, the
manifest records the entry's current source hash (the closure-aware
``plans/entry_hash_v2.py`` hash of the query function + oracle SQL).
The driver-gate rotation in ``plans/driver_order.py`` — applied only
by ``__spark_entry__.queries()`` / ``oracle_sql()``, never on a plain
``plans.queries`` import — then treats any entry whose hash later
drifts from its manifest value as never-green, so rewritten queries
rotate back into the driver's verification prefix (round-8 lesson:
ann_pq_topk / ann_recall_report shipped material rewrites on top of
r07 greens and the stalest-first rotation never noticed).

Usage: python scripts/update_green_manifest.py  (from the repo root)
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def rebuild(
    manifest: dict,
    rows: dict[str, tuple[int, bool, bool]],
    current_hash: dict[str, str],
    unsafe: set[str] | None = None,
) -> tuple[dict, int]:
    """Pure core of the manifest refresh (unit-tested,
    tests/test_green_manifest_rebuild.py).

    Only rows from the LATEST correctness round were verified against
    the current tree (this script runs at round start, while the tree
    still equals the round-end commit), so ONLY those rows may record
    the current hash.  Recording the current hash for an OLDER green
    row would silently erase changed-since-green debt: the driver
    verified that entry's old source, not whatever it looks like now
    (round-10 lesson: the first run of this script converted all 46
    debt entries into trusted greens and the rotation would have
    burned never-changed round-5 entries instead).  Older greens keep
    their previously recorded hash — including keeping NO entry if
    they never had one — so hash drift stays visible to the rotation.

    ``unsafe`` lists entries whose defining file changed AFTER the
    commit that landed the latest CORRECTNESS artifact (so even a
    latest-round row no longer vouches for the current source — the
    second round-10 lesson: two latest-round greens were edited
    mid-round and a rerun of this script re-trusted them).  Unsafe
    entries keep their previous manifest value.
    """
    latest_round = max((rnd for rnd, _ok, _f in rows.values()), default=0)
    unsafe = unsafe or set()
    updated = 0
    out = dict(manifest)
    for name, (rnd, ok, _full) in sorted(rows.items()):
        if (
            not ok
            or name not in current_hash
            or rnd < latest_round
            or name in unsafe
        ):
            continue
        h = current_hash[name]
        prev = out.get(name)
        if not isinstance(prev, dict) or prev.get("hash") != h:
            out[name] = {"hash": h, "round": rnd}
            updated += 1
        elif prev.get("round", 0) < rnd:
            out[name] = {**prev, "round": rnd}
    return out, updated


def _files_changed_since_round_commit(latest_round: int) -> set[str] | None:
    """Repo-relative paths changed (committed or working-tree) since the
    last commit that touched CORRECTNESS_r{latest}.json — the round-end
    tree the driver actually verified.  None when git is unavailable
    (callers should then trust nothing from the latest round)."""
    import subprocess

    artifact = f"CORRECTNESS_r{latest_round:02d}.json"

    def _git(*args: str) -> str | None:
        try:
            p = subprocess.run(
                ["git", *args], cwd=ROOT, capture_output=True, text=True
            )
        except OSError:
            return None
        return p.stdout if p.returncode == 0 else None

    head = _git("log", "-1", "--format=%H", "--", artifact)
    if not head or not head.strip():
        return None
    base = head.strip()
    committed = _git("diff", "--name-only", f"{base}..HEAD")
    status = _git("status", "--porcelain")
    if committed is None or status is None:
        return None
    changed = {l.strip() for l in committed.splitlines() if l.strip()}
    for l in status.splitlines():
        if not l.strip():
            continue
        # Porcelain v1: XY <path>, or XY <old> -> <new> for renames;
        # paths with specials are C-quoted.  Take BOTH rename sides.
        body = l[3:]
        for part in body.split(" -> "):
            part = part.strip()
            if part.startswith('"') and part.endswith('"'):
                part = part[1:-1]
            if part:
                changed.add(part)
    return changed


def main() -> None:
    from gtfs_realtime_etl_spark.plans.driver_order import (
        _GREEN_MANIFEST_PATH,
        ORACLE_SQL,
        QUERIES,
        _driver_rows,
        _entry_src_hash,
    )

    # Whatever manifest the live rotation reads is the one to refresh,
    # hashed with the same _entry_src_hash the rotation uses.
    path = _GREEN_MANIFEST_PATH
    try:
        with open(path) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        manifest = {}

    current_hash = {
        name: _entry_src_hash(fn, ORACLE_SQL.get(name))
        for name, fn in QUERIES.items()
    }
    rows = _driver_rows()
    latest_round = max((rnd for rnd, _ok, _f in rows.values()), default=0)
    changed = _files_changed_since_round_commit(latest_round)
    # An entry's hash covers its function source AND its oracle SQL,
    # and oracle strings are composed at import time from helpers that
    # may live in ANY package module (e.g. flagship_incremental embeds
    # functions/stats.py::norm_cdf_sql).  File-granularity provenance
    # can't see that, so the guard is package-wide: if ANY source file
    # under the package changed since the round-end commit — or git
    # can't tell us — NO latest-round row still vouches for its
    # current source, and every entry keeps its previous manifest
    # value.  This keeps the script exactly as useful as its contract
    # (run at round start on the untouched round-end tree) and a
    # guaranteed no-op on any mid-round tree.
    pkg_changed = changed is None or any(
        p.startswith("gtfs_realtime_etl_spark/") and p.endswith(".py")
        for p in changed
    )
    unsafe: set[str] = set(QUERIES) if pkg_changed else set()
    if unsafe:
        print(
            f"holding all {len(unsafe)} entries: package source changed "
            f"since the round-{latest_round} commit (or git unavailable)"
        )
    manifest, updated = rebuild(manifest, rows, current_hash, unsafe)

    with open(path, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{os.path.basename(path)}: {len(manifest)} entries, {updated} updated")


if __name__ == "__main__":
    main()
