#!/usr/bin/env python
"""Report the driver-verification window budget: which oracle-bearing
queries currently need (re)proof — unproven, or edited since their last
green round (digest = oracle SQL + function source) — and whether they all
fit the driver's 50-query per-round window.

Run BEFORE committing broad refactors that touch many query function
bodies: a sweep that edits 60 functions strands 10 of them unproven at
round end. Usage (repo root): python tools/verify_window.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mongodb_nats_connector_spark import registry  # noqa: E402

WINDOW = 50


def main() -> None:
    hash_verified, _ = registry._driver_verified()
    changed = registry.needs_driver_proof(hash_verified)
    total = len(registry._REGISTRY)
    print(f"{total} registered queries; {len(changed)} need driver proof "
          f"(window = {WINDOW})")
    for n in sorted(changed):
        tag = "edited" if n in hash_verified else "new"
        print(f"  {tag:6s} {n}")
    over = len(changed) - WINDOW
    if over > 0:
        print(f"OVER BUDGET by {over}: {over} queries will be unproven at "
              "round end — revert cosmetic edits or defer new queries")
        sys.exit(1)
    print(f"{WINDOW - len(changed)} slots spare")


if __name__ == "__main__":
    main()
