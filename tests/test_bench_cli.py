"""bench.py command line: an unknown or removed mode must fail fast, not
fall through to the 19-query headline sweep."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_unknown_flag_exits_nonzero_listing_modes(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=str(tmp_path / "no-such-sf"),
        SPARK_GRAFT_CPUS="1",
    )
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), "--no-such-mode"],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert p.returncode != 0
    assert "unknown argument '--no-such-mode'" in p.stderr
    assert "--r3" in p.stderr and "--extended" in p.stderr
    assert p.stdout == ""
