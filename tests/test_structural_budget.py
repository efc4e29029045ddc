"""Load-invariant plan-regression gate (VERDICT r6 item #4).

Wall-clock bench comparisons proved load-sensitive (r6: uniform
1.2-1.8x inflation from external tenants with bit-identical plans), so
the regression signal the suite enforces is STRUCTURAL: every batch
registry query's job count, executed stage count, task count, shuffle
bytes, and input bytes at sf0.001 must stay within the checked-in budgets
(tests/structural_budgets.json, slack documented in
tools/structural_check.py). A breach means the plan itself changed —
that fails HERE, in pytest, not in a bench eyeball.

Runs in a subprocess because the sweep needs its own SparkSession with
event logging enabled, stopped at the end to finalize the log — the
suite's shared session must survive.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_structural_budgets_hold():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "structural_check.py")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    tail = "\n".join(proc.stdout.splitlines()[-25:])
    assert proc.returncode == 0, f"structural budget gate failed:\n{tail}"
