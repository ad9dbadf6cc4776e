#!/usr/bin/env python
"""Round-start bookkeeping: record verified digests from the NEWEST
CORRECTNESS artifact.

Run this FIRST each round, before editing any operator: the newest
CORRECTNESS_r*.json was produced against the round-end commit, so each
verified query's current digest equals the digest of what the driver proved.
Waiting until after edits would stamp unproven code as verified.

Usage (repo root): python tools/round_start.py
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mongodb_nats_connector_spark import registry  # noqa: E402
from verify_window import WINDOW  # noqa: E402


def main() -> None:
    root = Path(__file__).resolve().parent.parent
    artifacts = sorted(root.glob("CORRECTNESS_r*.json"))
    if not artifacts:
        print("no CORRECTNESS_r*.json artifacts found; nothing to record")
        return
    newest = artifacts[-1]
    digests = registry.refresh_verified_digests(newest)
    rank0 = registry.needs_driver_proof()
    print(f"recorded digests from {newest.name}: {len(digests)} total")
    print(f"{len(rank0)} oracle-bearing queries still need driver proof; "
          f"{max(0, len(rank0) - WINDOW)} will spill past the {WINDOW}-query window")


if __name__ == "__main__":
    main()
