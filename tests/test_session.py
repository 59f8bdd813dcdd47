"""Launch-directory independence of the engine's Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_DIR

_REPO = Path(__file__).resolve().parent.parent

# Loads the driver contract by file path, as an external driver does, on
# a plain session built without the engine's confs, and runs one
# Arrow/pandas-kernel query (ann_lsh's bucket and top-k kernels run in
# Python workers that must import etl_data_pipeline_spark).
_DRIVER = """
import importlib.util, sys
from pyspark.sql import SparkSession
spec = importlib.util.spec_from_file_location("spark_entry", sys.argv[1])
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
print("ROWS", entry.queries()["ann_lsh"](spark, sys.argv[2]).count())
spark.stop()
"""


def test_kernel_query_runs_from_any_directory(tmp_path):
    """A kernel query succeeds when the process runs from a directory
    other than the repo root and its PYTHONPATH lacks the repo: the
    workers' PYTHONPATH comes from the session, not the launch dir."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _DRIVER, str(_REPO / "__spark_entry__.py"), SF_DIR],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rows = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, out.stdout
