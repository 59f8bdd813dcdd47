"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

The real surface lives in :mod:`etl_data_pipeline_spark.plans`; this
module just exposes the registry.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the engine importable no matter where the driver launches from.
_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from etl_data_pipeline_spark.plans import QUERIES, ORACLES, load_all_plans  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §7 M1): 5-way star join + agg on sf0.001."""
    load_all_plans()
    return QUERIES["q5_multi_join"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    load_all_plans()
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every SQL-expressible query."""
    load_all_plans()
    return dict(ORACLES)
