"""The DuckDB oracle sweep (``tools/check_oracles.py``) at sf0.001: every
``queries()`` entry with an ``oracle_sql()`` twin must match it (rows,
columns and values), in a subprocess with its own Spark session."""

import os
import subprocess
import sys

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_sweep_all_ok():
    out = subprocess.run(
        [sys.executable, "tools/check_oracles.py", SF_DIR],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = out.stdout.splitlines()
    assert "RESULT: ALL OK" in lines, "\n".join(
        ln for ln in lines if ln.startswith(("FAIL", "RESULT"))
    ) or out.stderr[-3000:]
    assert out.returncode == 0
    assert sum(ln.startswith("OK ") for ln in lines) >= 97
