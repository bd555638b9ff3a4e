"""Driver-correctness window bookkeeping.

The driver's per-round CORRECTNESS gate checks only the FIRST 50
``queries()`` entries (dict order). This audit reports, for every entry:
which round's CORRECTNESS_r0N.json recorded it green, whether it sits in
the current window, which already-green entries the window re-checks as
canaries (it should hold at least 2), and — the actionable part — which
never-checked entries are OUTSIDE the window (i.e. what the next round's
reorder must promote).

Usage: python scripts/window_audit.py (reads the checkout it sits in)
Exit 0 always (it's a report, not a gate); the summary line is the point.
"""

from __future__ import annotations

import glob
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

WINDOW = 50
MIN_CANARIES = 2


def main():
    import __spark_entry__ as entrymod

    keys = list(entrymod.queries().keys())
    oracles = set(entrymod.oracle_sql().keys())

    green: dict[str, list[str]] = {}
    for path in sorted(glob.glob(str(ROOT / "CORRECTNESS_r*.json"))):
        rnd = path.rsplit("CORRECTNESS_", 1)[1].split(".")[0]
        try:
            rec = json.load(open(path))
        except Exception:
            continue
        for name, res in rec.items():
            if not isinstance(res, dict):
                continue
            ok = res.get("rows_match") and res.get("schema_match") is not False
            if ok:
                green.setdefault(name, []).append(rnd)

    in_window = keys[:WINDOW]
    never = [k for k in keys if k not in green]
    never_outside = [k for k in never if k not in in_window]
    never_inside = [k for k in never if k in in_window]
    canaries = [k for k in in_window if k in green]
    untwinned = [k for k in keys if k not in oracles]

    print(f"queries: {len(keys)}  oracles: {len(oracles)}  untwinned: {untwinned or 'none'}")
    print(f"driver-green somewhere: {len(green)}")
    print(f"window (first {WINDOW}): {len(never_inside)} never-checked, "
          f"{len(canaries)} already-green canaries")
    print(f"never-checked OUTSIDE window ({len(never_outside)}):")
    for k in never_outside:
        print(f"  - {k}  (pos {keys.index(k)})")
    print(f"canaries (already-green, re-checked in the window): {canaries or 'none'}")
    if len(canaries) < MIN_CANARIES:
        print(f"WARNING: {len(canaries)} canaries < {MIN_CANARIES} — give long-green "
              "entries (bm25_topk, bm25_topk_wand, term_tf_totals) window slots")
    fit = "YES" if len(never_outside) == 0 else (
        "NO — promote the list above" if len(never) <= WINDOW
        else f"IMPOSSIBLE this round — {len(never)} never-checked > {WINDOW} slots")
    print(f"window covers all never-checked entries: {fit}")


if __name__ == "__main__":
    main()
