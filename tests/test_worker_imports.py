"""Pandas-UDF operators must run from any working directory: their
Python workers import this package from the zip the operator ships,
not from the host process's cwd."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from .conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]

_CHILD = """
import sys
sys.path.insert(0, {repo!r})
from database_migration_engine_spark.plans import QUERIES
from database_migration_engine_spark.session import build_session
spark = build_session(master="local[2]", shuffle_partitions=2)
print("ROWS", QUERIES["user_profiles_stream"](spark, {sf!r}).count())
spark.stop()
"""


def test_user_profiles_stream_runs_outside_repo_root(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=str(REPO), sf=SF_DIR)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    rows = [ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, proc.stdout
