"""Certification ledger: for every registry query, the LATEST round
whose driver gate (CORRECTNESS_r0N.json) recorded it hash-green.

It lists the stalest certifications, the names used to refresh
``plans/registry.DRIVER_WINDOW`` (the 50 entries the driver gate
checks first), so re-certification reaches the oldest driver signal
first. Tracking the latest green round, not the first, keeps the list
rotating: a re-certified entry drops to the back.

Usage: python tools/cert_ledger.py [N]
Prints the N (default 50) stalest entries, oldest first, then a
per-round histogram.  Never-certified entries sort first (round 0).
"""

from __future__ import annotations

import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def last_certified() -> dict[str, int]:
    """query name -> latest round with a hash-green driver row."""
    ledger: dict[str, int] = {}
    paths = glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json"))
    # Sort by the PARSED round number, not the raw filename — lexicographic
    # order breaks once round numbers pass two digits (r10 < r2 as strings).
    for path in sorted(paths, key=lambda p: int(p.rsplit("_r", 1)[1].split(".")[0])):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        rows = json.load(open(path))
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = row.get("hash_match") or (
                row.get("rows_match") and row.get("schema_match")
                and row.get("hash_match") is None
            )
            if green:
                ledger[name] = rnd
    return ledger


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    from job_datapipeline_spark.plans.queries import REGISTRY

    ledger = last_certified()
    aged = sorted(REGISTRY, key=lambda q: (ledger.get(q, 0), q))
    print(f"# {n} stalest certifications (oldest first):")
    for name in aged[:n]:
        print(f"{ledger.get(name, 0):>2}  {name}")
    hist: dict[int, int] = {}
    for name in REGISTRY:
        hist[ledger.get(name, 0)] = hist.get(ledger.get(name, 0), 0) + 1
    print("\n# last-certified histogram (0 = never):")
    for rnd in sorted(hist):
        print(f"round {rnd}: {hist[rnd]}")


if __name__ == "__main__":
    main()
