"""Session-level helpers: launch-directory independence of the
engine's Python workers, where queries write beside a corpus, and the
grouped-kernel bucket rule."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

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


def test_io_roundtrip_writes_under_scratch_io(spark):
    """a2_csv_roundtrip writes its CSV to
    ``<repo>/.scratch/io/<sf leaf>/customer_csv`` (sf0.001 -> sf0_001),
    the directory perfbench/run.py measures between passes: a moved
    path would leave that check reading an empty directory."""
    from etl_data_pipeline_spark.catalog import scratch_path
    from etl_data_pipeline_spark.plans import QUERIES, load_all_plans

    want = _REPO / ".scratch" / "io" / "sf0_001" / "customer_csv"
    got = scratch_path("/data/sf0.001", "io", "customer_csv")
    assert Path(os.path.realpath(got)) == want
    out = Path(scratch_path(SF_DIR, "io", "customer_csv"))
    shutil.rmtree(out, ignore_errors=True)
    load_all_plans()
    assert QUERIES["a2_csv_roundtrip"](spark, SF_DIR).count() > 0
    assert list(out.glob("part-*.csv"))


def _session(parallelism: int):
    """A stand-in exposing only what group_buckets reads."""
    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=parallelism)
    )


def test_group_buckets_rule():
    """B = max(64, 2 x parallelism, ceil(rows / rows_per_bucket)),
    checked without Spark: the floor of 64, the parallelism term, the
    data term and the ceiling at its boundary."""
    from etl_data_pipeline_spark.session import group_buckets

    assert group_buckets(_session(4), 0, 2500) == 64
    assert group_buckets(_session(4), 64 * 2500, 2500) == 64
    assert group_buckets(_session(40), 1000, 2500) == 80
    assert group_buckets(_session(4), 100 * 2500, 2500) == 100
    assert group_buckets(_session(4), 100 * 2500 + 1, 2500) == 101
    assert group_buckets(_session(4), 100 * 2500 - 1, 2500) == 100
    assert group_buckets(_session(80), 100 * 2500, 2500) == 160
