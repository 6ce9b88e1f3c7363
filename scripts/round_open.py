#!/usr/bin/env python3
"""Scripted round-open step (VERDICT r12 #6).

Run this FIRST each round, after the driver's CORRECTNESS_r{N}.json lands:

    python scripts/round_open.py

It mechanically performs what rounds 11/12 did by hand:

1. ``entry_manifest refresh`` — re-pin closure hashes for every entry whose
   last-green driver round advanced (the driver attested the current code).
2. Print the DERIVED FORCE SET: entries whose implementation closure still
   differs from the hash pinned at their last green round. These changed
   AFTER the driver last attested them, so they must either be added to
   ``_FORCE_RECHECK`` in ``__spark_entry__.py`` (re-attest first) or be
   ``ack``-ed (only for provably semantics-preserving edits with a green
   ``tests/test_oracle_parity.py``).
3. Exit non-zero while ``check()`` reports violations, so a forgotten
   round-open is loud instead of a red pytest at judge time (the r12
   failure mode: evidence landed after round close and the freshness guard
   fired on an unrefreshed manifest).
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from ibc_spark.tools import entry_manifest  # noqa: E402


def main() -> int:
    print("== step 1: entry_manifest refresh ==")
    changed = entry_manifest.refresh()
    if changed:
        for name, why in sorted(changed.items()):
            print(f"{why:>20}  {name}")
    else:
        print("(no manifest changes)")

    print("\n== step 2: derived force set ==")
    import __spark_entry__ as entry_mod

    # The RAW drift set (ignoring the _FORCE_RECHECK excuse list check()
    # applies): every entry whose closure hash differs from the one pinned
    # at its last green driver round. Step 1 recorded every registered
    # entry, so the drifted entries outside _FORCE_RECHECK are exactly
    # check()'s violations.
    drifted = sorted(entry_manifest.drifted())
    uncovered = [n for n in drifted if n not in entry_mod._FORCE_RECHECK]
    if drifted:
        print("closure changed since last green driver round:")
        for name in drifted:
            mark = "" if name in uncovered else "  (covered by _FORCE_RECHECK)"
            print(f"  {name}{mark}")
        if uncovered:
            print("UNCOVERED entries above must be added to _FORCE_RECHECK in")
            print("__spark_entry__.py (or acked if provably semantics-")
            print("preserving with a green tests/test_oracle_parity.py).")
    else:
        print("(empty — no entry's closure drifted past its green round)")
    stale = sorted(entry_mod._FORCE_RECHECK - set(drifted))
    if stale:
        print("\nNOTE: _FORCE_RECHECK carries entries whose closure matches")
        print("their pinned green hash — consider removing:")
        for name in stale:
            print(f"  {name}")

    print("\n== step 3: guard ==")
    if uncovered:
        print("VIOLATIONS — resolve before building (see step 2).")
        return 1
    print("CLEAN — manifest refreshed, pytest freshness guard will pass.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
