"""The driver contract module, ``__spark_entry__.py``, consumed the way an
external driver consumes it: loaded by file path from an unrelated
working directory, without the repo on PYTHONPATH.  Spark-free: no
session is built; only the registry surface is checked."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent

#: Registered queries; every one has a DuckDB oracle.  Adding or
#: removing a query changes this number on purpose.
N_QUERIES = 276

_LOADER = """
import importlib.util, json, sys
spec = importlib.util.spec_from_file_location("spark_entry", sys.argv[1])
m = importlib.util.module_from_spec(spec)
spec.loader.exec_module(m)
print(json.dumps({
    "first": list(m.queries()),
    "second": list(m.queries()),
    "oracles": list(m.oracle_sql()),
    "callable": all(callable(f) for f in m.queries().values()),
}))
"""


def test_entry_module_returns_every_query(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _LOADER, str(_REPO / "__spark_entry__.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    first = got["first"]
    assert len(first) == len(set(first)) == N_QUERIES
    assert got["callable"]
    assert set(got["oracles"]) <= set(first)
    assert len(got["oracles"]) == N_QUERIES
    assert got["second"] == first
