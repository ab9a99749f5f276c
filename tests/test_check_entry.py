"""The oracle-gate mimic (``tools/check_entry.py``) refuses a query
name that is not in the registry, before it starts Spark."""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_query_name_exits_nonzero():
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "check_entry.py"),
         "cdc_merge_upsert", "no_such_query"],
        cwd=_REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert "no_such_query" in proc.stderr
    assert "ok" not in proc.stdout  # no summary: nothing ran
