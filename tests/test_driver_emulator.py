"""``tools/driver_emulator.py``, the one oracle check, run as a script
from outside the repo against a stand-in contract module: a query that
raises is reported and counted, the loop goes on, and positional names
narrow the run."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_DIR

_REPO = Path(__file__).resolve().parent.parent

_ENTRY = """
from etl_data_pipeline_spark.plans import ORACLES, QUERIES, load_all_plans

load_all_plans()


def entry(spark):
    return QUERIES["q5_multi_join"](spark, {sf!r})


def _boom(spark, sf_dir):
    raise RuntimeError("boom")


def queries():
    return {{"a_boom": _boom, "q5_multi_join": QUERIES["q5_multi_join"]}}


def oracle_sql():
    return {{"a_boom": "SELECT 1", "q5_multi_join": ORACLES["q5_multi_join"]}}
"""


def _emulate(tmp_path, *names):
    entry = tmp_path / "entry.py"
    entry.write_text(_ENTRY.format(sf=SF_DIR))
    proc = subprocess.run(
        [sys.executable, str(_REPO / "tools" / "driver_emulator.py"), *names,
         "--entry-module", str(entry), "--sf-dir", SF_DIR, "--master", "local[2]"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    return proc.returncode, proc.stdout.splitlines()


def test_emulator_reports_error_and_goes_on(tmp_path):
    code, lines = _emulate(tmp_path)
    assert any(l.startswith("ERR a_boom: RuntimeError('boom')") for l in lines), lines
    assert any(l.startswith("OK q5_multi_join:") for l in lines), lines
    assert lines[-1] == "T2: 1 hash-match, 0 fail, 1 err, 0 rows-only"
    assert code == 1


def test_emulator_checks_only_named_queries(tmp_path):
    code, lines = _emulate(tmp_path, "q5_multi_join")
    assert not any("a_boom" in l for l in lines), lines
    assert lines[-1] == "T2: 1 hash-match, 0 fail, 0 err, 0 rows-only"
    assert code == 0
