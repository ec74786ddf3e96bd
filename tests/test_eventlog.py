"""The benchmark's event-log parser check, run in its own process.

``perfbench/eventlog_check.py`` starts and stops its own Spark driver,
so it cannot share this suite's session: it runs as a subprocess,
and its job / stage / task counts are what the traced benchmark's
per-layer figures rest on."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_eventlog_parser_check():
    proc = subprocess.run(
        [sys.executable, "perfbench/eventlog_check.py"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
    assert "eventlog_check: ok" in proc.stdout
