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
#: importing the package stays cheap.
#:
#: ORDER MATTERS for external evidence: the driver's correctness run
#: checks the first ~50 queries in registration order.  _PRIORITY
#: (below) pins the front of that window each round — never-checked
#: queries first, then re-checks of anything whose code or oracle
#: changed; tools/coverage_audit.py reports the cumulative per-query
#: driver-check state that drives the rotation.
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
    # round 11: SURVEY §2.2 growth rules — new-capability operators
    # live in a NEW module so no existing query's recorded trace pair
    # (module prelude) is dirtied by their arrival.
    "etl_data_pipeline_spark.plans.scale_patterns",
    # round 12: two-level (hierarchical) IVF — same §2.2 rationale,
    # same new-module isolation.
    "etl_data_pipeline_spark.plans.ann_hier",
    # round 15: incremental near-dup against a persisted LSH index
    # (VERDICT r14 item 5) — same new-module isolation.
    "etl_data_pipeline_spark.plans.incremental",
]

#: Explicit front-of-window ordering for the driver's correctness run
#: (~50 entries checked in registration order). Names not listed keep
#: registration order after these. Unknown names are ignored
#: (defensive: a renamed query must not break loading).
_PRIORITY = [
    # set mechanically from COVERAGE_AUDIT.json
    # summary.suggested_priority (tools/coverage_audit.py).
    "cusum_changepoint",
    "k7_cogroup_asof",
    "ann_lsh",
    "ann_multiprobe",
    "ann_multiprobe_recall",
    "ann_recall",
    "ivf2_ann",
    "ivf2_recall",
    "ivf_ann",
    "ivf_recall",
    "j4_sessionization_metrics",
    "k5_arrow_udf",
    "k6_map_in_arrow",
    "k8_grouped_agg_udaf",
    "skew_salted_join",
    "sql_correlated_subquery",
    "sql_exists_subquery",
    "sql_group_by_all",
    "sql_lateral_topk",
    "sql_nested_agg_subquery",
    "sql_q6_revenue",
    "sql_recursive_cte",
    "a4_partitioned_write",
    "a8_dynamic_partition_overwrite",
    "bigram_lm_score",
    "bm25_topk",
    "c2_left_join",
    "c2_right_join",
    "c4_broadcast_join",
    "chunk_overlap",
    "containment_df_stats",
    "d2_global_agg",
    "d6_filtered_agg",
    "dedup_survivorship",
    "doc_fingerprint",
    "frequent_ngrams",
    "global_shuffle",
    "gopher_repetition",
    "i2_text_stats",
    "i3_exact_dedup",
    "i5_tfidf_topterms",
    "incremental_dedup",
    "incremental_merge",
    "merge_upsert",
    "mixture_report",
    "mixture_sample",
    "pack_greedy",
    "pack_sequences",
    "pmi_bigrams",
    "pps_systematic_sample",
]

#: Round-7 status: cumulative driver coverage is 271/271 (r06 drained
#: the never-checked backlog).  The window is now a pure staleness
#: rotation, prescribed by ``python tools/coverage_audit.py --check``
#: which fails when this list omits anything the audit says belongs in
#: the window — update this list FROM summary.suggested_priority, do
#: not hand-curate it.

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
    # Rebuild insertion order so _PRIORITY names come first — the
    # driver's correctness window follows dict order.
    front = [n for n in _PRIORITY if n in QUERIES]
    front_set = set(front)
    rest = [n for n in QUERIES if n not in front_set]
    for d in (QUERIES, ORACLES):
        ordered = {n: d[n] for n in front + rest if n in d}
        d.clear()
        d.update(ordered)
    _loaded = True
