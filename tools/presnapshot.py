"""One-command pre-snapshot gate runner (VERDICT r11 item 7).

Runs the four gate test files plus ``rotation --check`` — the set the
README requires after ANY registry change — and exits nonzero if any
fails. The point is to make the gate cheap enough that no registry
hunk ever reaches a commit (or the end-of-round snapshot) unvalidated:

    python -m tools.presnapshot        # ~6 min

This is a convenience wrapper, not a new gate: the same checks run
individually in CI/pytest; see README "Required pre-snapshot gates".
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent

GATE_TESTS = [
    "tests/test_oracle_dtypes.py",
    "tests/test_registry_order.py",
    "tests/test_entry_contract.py",
    "tests/test_docs_inventory.py",
    "tests/test_worker_daemon.py",
]


def main() -> int:
    # anchor to the repo root so `python -m tools.presnapshot` works
    # from any working directory
    rc = subprocess.call(
        [sys.executable, "-m", "pytest", *GATE_TESTS, "-q"], cwd=REPO_ROOT
    )
    if rc != 0:
        print("presnapshot: gate tests FAILED", file=sys.stderr)
        return rc
    rc = subprocess.call(
        [sys.executable, "-m", "tools.rotation", "--check"], cwd=REPO_ROOT
    )
    if rc != 0:
        print("presnapshot: rotation --check FAILED", file=sys.stderr)
        return rc
    print("presnapshot: all gates green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
