#!/usr/bin/env python
"""Preflight — run the repo's checks in one command before committing:

    python scripts/preflight.py [--fast]

Sequence (each in its own subprocess so Spark sessions never overlap):
  1. pytest tests/ (full suite; skipped with --fast)
  2. scripts/plan_lint.py               — registry-wide scale
     anti-pattern sweep (cartesians, row UDFs, single-task windows)
  3. scripts/check_parity.py at sf0.01  — every registered query
     against its DuckDB oracle
  4. scripts/driver_posture_smoke.py    — plain-session execution of
     every queries() entry + output-hashability guard
  5. scripts/check_determinism.py       — 3-vs-32-partition bit-equality
     (skipped with --fast)

Exit 0 means every step passed."""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str]) -> tuple[bool, str]:
    t0 = time.time()
    proc = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, timeout=3600
    )
    took = f"{time.time() - t0:.0f}s"
    # a passing step's summary is its stdout tail; Spark logs to stderr
    out = proc.stdout if proc.returncode == 0 else proc.stdout + proc.stderr
    lines = [
        ln
        for ln in out.strip().splitlines()
        if ln.strip() and "Stage" not in ln
    ]
    msg = f"[{label}] rc={proc.returncode} {took}: " + " | ".join(lines[-2:])
    return proc.returncode == 0, msg


def main() -> int:
    fast = "--fast" in sys.argv
    py = sys.executable
    steps: list[tuple[str, list[str]]] = []
    if not fast:
        steps.append(("pytest", [py, "-m", "pytest", "tests/", "-q"]))
    steps += [
        ("plan-lint", [py, "scripts/plan_lint.py"]),
        ("parity@sf0.01", [py, "scripts/check_parity.py", "/root/testdata/sf0.01"]),
        ("posture", [py, "scripts/driver_posture_smoke.py", "/root/testdata/sf0.001"]),
    ]
    if not fast:
        steps.append(("determinism", [py, "scripts/check_determinism.py"]))

    ok_all = True
    for label, cmd in steps:
        ok, msg = run(label, cmd)
        print(("PASS " if ok else "FAIL ") + msg, flush=True)
        ok_all = ok_all and ok
    print("PREFLIGHT " + ("GREEN" if ok_all else "RED"))
    return 0 if ok_all else 1


if __name__ == "__main__":
    raise SystemExit(main())
