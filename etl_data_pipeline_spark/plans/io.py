"""Source/sink round-trip queries (SURVEY.md §2 A2/A3/A4).

Each query materializes a table through a non-parquet format (or a
partitioned parquet layout) into a scratch dir under the repo, reads it
back with an explicit schema, and returns a result the DuckDB oracle can
reproduce from the original table — proving the extract/load legs are
lossless (types, timestamps, doubles).

Every non-parquet read passes an explicit schema (SURVEY §1.3): schema
inference costs an extra full pass over the data and can silently drift
types between runs.  Partitioned parquet is the canonical load leg:
partition columns become directory keys, so downstream reads of the
common low-cardinality filter columns prune directories (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.catalog import SCHEMAS, load_table, scratch_path
from etl_data_pipeline_spark.functions.canonical import dec_sum
from etl_data_pipeline_spark.materialize import materialize
from etl_data_pipeline_spark.plans.registry import query

@query(
    "a2_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def a2_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: CSV write + read with header and explicit schema.

    Doubles survive because Spark writes shortest-roundtrip decimal reprs;
    the oracle reads the ORIGINAL table, so a hash match proves the CSV
    leg is lossless.
    """
    c = load_table(spark, sf_dir, "customer")
    path = scratch_path(sf_dir, "io", "customer_csv")
    c.write.mode("overwrite").option("header", "true").csv(path)
    return (
        spark.read.schema(SCHEMAS["customer"])
        .option("header", "true")
        .csv(path)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )


@query(
    "a3_jsonl_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS VARCHAR) AS orderdate_str, o_orderpriority
    FROM orders
    """,
)
def a3_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: JSON-lines write + schema-on-read (timestamps included)."""
    o = load_table(spark, sf_dir, "orders")
    path = scratch_path(sf_dir, "io", "orders_jsonl")
    o.write.mode("overwrite").json(path)
    back = spark.read.schema(SCHEMAS["orders"]).json(path)
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("string").alias("orderdate_str"),
        "o_orderpriority",
    )


@query(
    "a4_partitioned_write",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS total_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a4_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: partitioned parquet load leg: write lineitem partitioned by
    l_returnflag (low-cardinality common filter column), read back, agg.

    Downstream reads of one flag prune to one directory (partition
    pruning); at 100 TB this is the difference between scanning 1/3 of
    the table and all of it.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag", "l_linestatus"
    )
    path = scratch_path(sf_dir, "io", "lineitem_part")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum(F.col("l_extendedprice"), 2).alias("total_price"),
    )


@query(
    "a6_schema_evolution",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_partkey % 2 = 0 THEN p_size END AS p_size,
           CASE WHEN p_partkey % 2 = 1 THEN p_retailprice END AS p_retailprice
    FROM part
    """,
)
def a6_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: schema-evolution read — two parquet files with DIFFERENT
    column sets (old writer vs new writer), unified by mergeSchema; the
    column missing from a file comes back NULL for its rows.

    The oracle reconstructs the same frame from the original table, so a
    hash match proves the merged read is lossless. Scale note: mergeSchema
    costs a footer read per file — on 100 TB lakes pin the unified schema
    in a metastore instead and pass it explicitly.
    """
    p = load_table(spark, sf_dir, "part")
    path = scratch_path(sf_dir, "io", "part_evolving")
    old = p.filter(F.col("p_partkey") % 2 == 0).select("p_partkey", "p_size")
    new = p.filter(F.col("p_partkey") % 2 == 1).select("p_partkey", "p_retailprice")
    old.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "v=1"))
    new.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "v=2"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(path, "v=1"), os.path.join(path, "v=2"))
        .select("p_partkey", "p_size", "p_retailprice")
    )


@query(
    "a7_csv_malformed",
    oracle="""
    SELECT COUNT(*) AS n_good, CAST(2 AS BIGINT) AS n_bad FROM nation
    """,
)
def a7_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: malformed-row quarantine — PERMISSIVE CSV read routes rows that
    don't parse into ``_corrupt_record`` instead of failing the job (the
    ETL dead-letter pattern; DROPMALFORMED/FAILFAST are config flips).

    Two known-bad lines are appended to a valid extract; the query counts
    clean vs quarantined rows. The frame is persisted before filtering on
    the corrupt column (Spark disallows filtering an uncached corrupt
    column because the raw record is not otherwise materialized).
    """
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    n = load_table(spark, sf_dir, "nation")
    path = scratch_path(sf_dir, "io", "nation_csv_bad")
    n.write.mode("overwrite").option("header", "true").csv(path)
    # drop two malformed lines in as their own file (appending to a
    # Spark-written part file would invalidate its Hadoop .crc checksum)
    with open(os.path.join(path, "z-dead-letter.csv"), "w") as fh:
        fh.write("n_nationkey,n_name,n_regionkey\n")  # header=true is per-file
        fh.write("garbage-line-without-commas\n")
        fh.write("not_an_int,BADLAND\n")
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    raw = materialize(
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return raw.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.col("_corrupt_record")).alias("n_bad"),
    )


@query(
    "a8_dynamic_partition_overwrite",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS total
    FROM lineitem
    WHERE l_returnflag != 'R' OR l_quantity > 25
    GROUP BY l_returnflag
    """,
)
def a8_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: dynamic partition overwrite — the incremental daily-reload
    primitive: rewriting one partition's data replaces ONLY that
    partition's directory, leaving siblings untouched (static mode would
    truncate the whole table).

    Here the full table lands partitioned by l_returnflag, then the 'R'
    partition alone is overwritten with a filtered slice; the read-back
    aggregate proves A/N survived intact and R was replaced.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    path = scratch_path(sf_dir, "io", "lineitem_dyn_overwrite")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") > 25))
            .write.mode("overwrite")
            .partitionBy("l_returnflag")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum(F.col("l_extendedprice"), 2).alias("total"),
    )
