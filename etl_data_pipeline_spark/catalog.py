"""Table catalog: declared schemas + loaders for the test corpus.

``SCHEMAS`` declares each table's expected layout (SURVEY.md §1.3), but
nothing validates against it yet: ``load_table`` infers the schema from
the parquet footer, so a drifted layout is read as it is, not rejected
(checking the footer against ``SCHEMAS`` is ROADMAP direction 1).
``SCHEMAS`` is read only where a schema must be declared up front: by
``plans/io.py``, as the read schema of its CSV and JSONL round trips,
and by ``plans/streaming.py``, as the ``events`` readStream schema of
its staged micro-batches. The ``events`` table needs the
nanos-timestamp ingest path (SURVEY.md §1.4): parquet stores
``ts`` as INT64 TIMESTAMP(NANOS); with
``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as bigint
nanoseconds and we convert to a microsecond timestamp (DuckDB's native
timestamp precision is also microseconds, so oracle parity holds).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_data_pipeline_spark.session import ensure_engine_confs

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Expected Spark schemas (SURVEY.md §1.2). Not checked at load time:
#: ``load_table`` infers from the footer (see the module docstring).
#: Read by plans/io.py (CSV/JSONL round trips) and plans/streaming.py
#: (the staged ``events`` stream).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # after ingest conversion (ts bigint-nanos -> timestamp[us])
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def scratch_path(sf_dir: str, area: str, *leaf: str) -> str:
    """Where queries write beside this corpus:
    ``<repo>/.scratch/<area>/<sf leaf>/<leaf...>``, the sf leaf being the
    sf dir's last component with ``.`` -> ``_`` (sf0.01 -> sf0_01)."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    root = os.path.dirname(os.path.dirname(__file__))
    return os.path.join(root, ".scratch", area, tag, *leaf)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table with the engine's ingest rules.

    Parquet scans keep the footer schema (columnar vectorized reader,
    predicate pushdown and column pruning all apply); ``events`` routes
    through the nanos fix (SURVEY.md §1.4).
    """
    ensure_engine_confs(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # INT64 nanos -> timestamp[us]. Must be integer DIV: float
            # division loses precision above 2^53 (epoch-nanos ~1.7e18)
            # and rounds where DuckDB truncates.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # A session we didn't build may read TIMESTAMP(NANOS) parquet
            # as TIMESTAMP_NTZ (no nanosAsLong conf at scan time). With
            # session tz pinned to UTC the NTZ->LTZ cast preserves the
            # wall-clock value exactly, and downstream arithmetic
            # (e.g. cast to double for session gaps) stays legal.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df

