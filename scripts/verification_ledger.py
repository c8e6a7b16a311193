"""Regenerate VERIFICATION_LEDGER.json: for every registered query,
the last round whose driver CORRECTNESS artifact has it green
(hash_match true, or rows-only for declared no-oracle queries), plus
whether it sits inside the current 50-entry driver window.

The driver verifies only the FIRST 50 ``queries()`` entries per round,
so the catalog rotates through the window (rotation history
in BASELINE.md). This ledger makes the staleness auditable at a glance
instead of resting on the in-code rotation comments.

Usage: python scripts/verification_ledger.py  (writes the JSON and
prints a summary).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

WINDOW = 50
LEDGER_PATH = REPO / "VERIFICATION_LEDGER.json"


def build_ledger() -> dict:
    """The ledger as a dict keyed by query name, in registry order:
    position, window membership, last driver-green round and oracle
    kind. Reads ``__spark_entry__`` and the CORRECTNESS artifacts;
    writes nothing."""
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    oracles = set(entrymod.oracle_sql())

    last_green: dict[str, int | None] = {n: None for n in names}
    rounds = sorted(REPO.glob("CORRECTNESS_r*.json"))
    for p in rounds:
        rn = int(p.stem.split("_r")[1])
        for name, row in json.loads(p.read_text()).items():
            if name not in last_green:
                continue
            ok = row.get("hash_match") is True or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if ok:
                last_green[name] = max(last_green[name] or 0, rn)

    return {
        name: {
            "position": i + 1,
            "in_current_window": i < WINDOW,
            "last_driver_green_round": last_green[name],
            "oracle": "sql" if name in oracles else "rows_only",
        }
        for i, name in enumerate(names)
    }


def main() -> None:
    ledger = build_ledger()
    LEDGER_PATH.write_text(json.dumps(ledger, indent=1) + "\n")

    never = [n for n, v in ledger.items() if v["last_driver_green_round"] is None]
    stale = {
        n: v["last_driver_green_round"]
        for n, v in ledger.items()
        if not v["in_current_window"] and v["last_driver_green_round"] is not None
    }
    print(f"{len(ledger)} queries; window={WINDOW}")
    print(f"never driver-green (pending this round's window): {len(never)}")
    for n in never:
        print(f"  {n} (position {ledger[n]['position']})")
    oldest = min(stale.values()) if stale else None
    print(f"outside window: {len(stale)} (oldest green round: {oldest})")


if __name__ == "__main__":
    main()
