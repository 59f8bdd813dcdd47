"""Registry mapping query name -> (Spark callable, DuckDB oracle SQL).

Keeping both halves of the contract in one decorator call is what keeps
the Spark result and the oracle result column-name aligned (the driver
sorts columns by name before hashing, so every computed column must be
aliased identically on both sides).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Modules that define queries; imported lazily by load_all_plans so that
#: importing the package stays cheap.  Each query is registered exactly
#: once (a duplicate name raises), in the order its module is first
#: imported, and the driver contract's ``queries()`` returns all of them.
_PLAN_MODULES = [
    "etl_data_pipeline_spark.plans.vectors",
    "etl_data_pipeline_spark.plans.text",
    "etl_data_pipeline_spark.plans.events",
    "etl_data_pipeline_spark.plans.scalar",
    "etl_data_pipeline_spark.plans.udfs",
    "etl_data_pipeline_spark.plans.io",
    "etl_data_pipeline_spark.plans.streaming",
    "etl_data_pipeline_spark.plans.multimodal",
    "etl_data_pipeline_spark.plans.pipelines",
    "etl_data_pipeline_spark.plans.sql_api",
    "etl_data_pipeline_spark.plans.relational",
    "etl_data_pipeline_spark.plans.etl",
    "etl_data_pipeline_spark.plans.curation",
    "etl_data_pipeline_spark.plans.timeseries",
    "etl_data_pipeline_spark.plans.modern",
    "etl_data_pipeline_spark.plans.sketches",
    "etl_data_pipeline_spark.plans.scale_patterns",
    "etl_data_pipeline_spark.plans.ann_hier",
]

_loaded = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query and, when SQL-expressible, its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all_plans() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _PLAN_MODULES:
        importlib.import_module(mod)
    _loaded = True
