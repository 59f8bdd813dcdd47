"""Spark-4-native surfaces (recursive CTE, VARIANT, Arrow-optimized
UDFs, mapInArrow, the Python DataSource API) — the modern half of the
K/H/A families, registered as first-class oracle-checked queries so the
engine's coverage tracks the platform it is built on, not just the
classic DataFrame surface.

Oracle parity notes: the recursive month ladder carries its bounds in
the anchor row (no scalar subquery in the recursive member — the one
construct the two engines disagree on); VARIANT extraction is compared
through typed ``variant_get`` vs DuckDB ``json_extract`` casts; the
custom source's contract is pure integer arithmetic on the row id, so
its oracle is a ``RANGE`` expression.
"""

from __future__ import annotations

import glob
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_data_pipeline_spark.catalog import load_table, scratch_path
from etl_data_pipeline_spark.functions.canonical import dec_sum, grid_sum
from etl_data_pipeline_spark.plans.registry import query
from etl_data_pipeline_spark.session import group_buckets
from etl_data_pipeline_spark.sources.pyds import (
    SEQ_MOD,
    SEQ_MULT,
    register_seq_source,
)


@query(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE bounds AS (
      SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE) AS m0,
             CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS DATE) AS m1
      FROM orders
    ), months(m, m1) AS (
      SELECT m0, m1 FROM bounds
      UNION ALL
      SELECT CAST((m + INTERVAL 1 MONTH) AS DATE), m1
      FROM months WHERE m < m1
    )
    SELECT CAST(mo.m AS VARCHAR) AS month_start,
           COUNT(o.o_orderkey) AS n_orders
    FROM months mo
    LEFT JOIN orders o
      ON CAST(DATE_TRUNC('month', o.o_orderdate) AS DATE) = mo.m
    GROUP BY mo.m
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4.0): a month ladder generated by
    recursion from the orders table's own min/max months, left-joined
    back for per-month order counts — the calendar-spine pattern
    expressed as WITH RECURSIVE instead of sequence+explode
    (cf. date_spine in plans/etl.py, which is the pre-4.0 formulation).
    Bounds ride along in the anchor row so the recursive member needs no
    scalar subquery (identical restriction-free shape in both engines).
    Recursion depth = number of months (~84 here), far under
    spark.sql.cteRecursionLevelLimit."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_rec_src")
    return spark.sql(
        """
        WITH RECURSIVE bounds AS (
          SELECT CAST(DATE_TRUNC('month', MIN(o_orderdate)) AS DATE) AS m0,
                 CAST(DATE_TRUNC('month', MAX(o_orderdate)) AS DATE) AS m1
          FROM orders_rec_src
        ), months(m, m1) AS (
          SELECT m0, m1 FROM bounds
          UNION ALL
          SELECT CAST((m + INTERVAL 1 MONTH) AS DATE), m1
          FROM months WHERE m < m1
        )
        SELECT CAST(mo.m AS STRING) AS month_start,
               COUNT(o.o_orderkey) AS n_orders
        FROM months mo
        LEFT JOIN orders_rec_src o
          ON CAST(DATE_TRUNC('month', o.o_orderdate) AS DATE) = mo.m
        GROUP BY mo.m
        """
    )


@query(
    "h7_variant",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_total,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def h7_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7 (added): VARIANT ingestion (new in Spark 4.0) — props parsed
    once into the binary VARIANT type, then typed ``variant_get``
    extraction feeding a plain aggregate. VARIANT is the scale path for
    semi-structured columns: parse once at ingest, no per-query JSON
    string re-parsing, with shredded storage when written to parquet."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("k_total"),
        F.max("k").alias("k_max"),
    )


@query(
    "k5_arrow_udf",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) * 0.07 AS est_tax
    FROM orders
    WHERE o_orderkey % 20 = 0
    """,
)
def k5_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 (added): Arrow-optimized scalar Python UDF (``useArrow=True``,
    Spark 3.5+/4.x) — same escape-hatch semantics as k1's pickled UDF
    but the batch transfer rides Arrow, cutting serialization ~10x.
    Same discipline as k1: input pre-filtered to 1/20th JVM-side before
    any Python is involved."""
    tax = F.udf(lambda p: p * 0.07, "double", useArrow=True)
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") % 20 == 0)
        .select("o_orderkey", tax(F.col("o_totalprice")).alias("est_tax"))
    )


@query(
    "k6_map_in_arrow",
    oracle="""
    SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           CAST(l_quantity AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)
             AS qty_price
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    """,
)
def k6_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6 (added): ``mapInArrow`` — the zero-copy batch escape hatch:
    each task streams pyarrow RecordBatches through compiled Arrow
    compute kernels (no pandas materialization, no per-row Python).
    The fastest Python-side path when pandas semantics aren't needed."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def qty_price(batches):
        for batch in batches:
            t = pa.table(
                {
                    "l_orderkey": pc.cast(
                        batch.column("l_orderkey"), pa.int64()
                    ),
                    "l_linenumber": pc.cast(
                        batch.column("l_linenumber"), pa.int64()
                    ),
                    "qty_price": pc.multiply(
                        pc.cast(batch.column("l_quantity"), pa.float64()),
                        pc.cast(batch.column("l_extendedprice"), pa.float64()),
                    ),
                }
            )
            yield from t.to_batches()

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % 50 == 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .mapInArrow(
            qty_price, "l_orderkey long, l_linenumber long, qty_price double"
        )
    )


@query(
    "a9_python_datasource",
    oracle=f"""
    SELECT val, COUNT(*) AS n, MIN(id) AS min_id, MAX(id) AS max_id
    FROM (SELECT range AS id, (range * {SEQ_MULT}) % {SEQ_MOD} AS val
          FROM RANGE(4096))
    GROUP BY val
    """,
)
def a9_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (added): custom Python DataSource (Spark 4.0 DataSource API) —
    the engine's extensible-source surface. The ``seqsource`` format
    (sources/pyds.py) yields a deterministic integer sequence across 8
    independent input partitions; the oracle reproduces the source's
    data CONTRACT in pure SQL, so the check covers partitioning and
    reader correctness, not just shape."""
    register_seq_source(spark)
    df = spark.read.format("seqsource").option("n", "4096").load()
    return df.groupBy("val").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("min_id"),
        F.max("id").alias("max_id"),
    )


# --- additional format legs ---


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c
    JOIN LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t ON true
    WHERE c.c_custkey % 10 = 0
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery (Spark 3.2+ SQL surface): top-2
    orders per customer expressed as a per-row dependent subquery with
    ORDER BY ... LIMIT — the same answer as the E4 window formulation
    (window_rank) through a different planner path: Catalyst
    decorrelates the lateral into a ranked join rather than executing a
    subquery per row, so the 100 TB plan is one shuffle on the join key,
    not |customer| scans of orders. Deterministic tiebreak on
    o_orderkey inside the LIMIT."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_lat_src"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_lat_src"
    )
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_lat_src c
        JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lat_src o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey % 10 = 0
        """
    )


@query(
    "sql_group_by_all",
    oracle="""
    SELECT c_mktsegment, n_name,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS bal_total
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL (Spark 3.4+): the analyzer infers the grouping set
    as every non-aggregate select item — the ergonomic surface modern
    warehouse SQL expects; resolves to the identical aggregate plan as
    an explicit column list (decimal-exact money sum per the house
    parity rule)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_gba_src"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_gba_src"
    )
    return spark.sql(
        """
        SELECT c_mktsegment, n_name,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(38,2))) AS DOUBLE)
                 AS bal_total
        FROM customer_gba_src c
        JOIN nation_gba_src n ON c.c_nationkey = n.n_nationkey
        GROUP BY ALL
        """
    )


@query(
    "a13_compact_small_files",
    oracle="""
    SELECT CAST(64 AS BIGINT) AS files_before,
           CAST(4 AS BIGINT) AS files_after,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
    FROM orders
    """,
)
def a13_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (added): small-files compaction — the table-maintenance job
    every long-lived lake needs: a fragmented table (64 tiny part files,
    the residue of streaming/incremental writes) is rewritten into a few
    right-sized files. At 100 TB the target is computed from bytes
    (total_size / 128 MB) and the rewrite runs per-partition-directory;
    here the fragment/target counts are pinned (64 -> 4) so the file
    arithmetic itself is oracle-checkable, and the row count + exact
    money total prove the rewrite is lossless."""
    o = load_table(spark, sf_dir, "orders")
    frag = scratch_path(sf_dir, "io2", "orders_fragmented")
    compact = scratch_path(sf_dir, "io2", "orders_compacted")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    n_before = len(glob.glob(os.path.join(frag, "part-*")))
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
        compact
    )
    n_after = len(glob.glob(os.path.join(compact, "part-*")))
    back = spark.read.parquet(compact)
    return back.agg(
        F.lit(n_before).cast("long").alias("files_before"),
        F.lit(n_after).cast("long").alias("files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum(F.col("o_totalprice"), 2).alias("total"),
    )


@query(
    "a10_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def a10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (added): ORC write + read (Spark-native columnar alternative;
    zlib-compressed here). The oracle aggregates the ORIGINAL table, so
    a hash match proves the ORC leg preserves every row, timestamp and
    double exactly."""
    o = load_table(spark, sf_dir, "orders")
    path = scratch_path(sf_dir, "io2", "orders_orc")
    o.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(F.col("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "a11_text_roundtrip",
    oracle="""
    WITH toks AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    )
    SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct
    FROM toks
    """,
)
def a11_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (added): raw text-file sink/source (one line per document —
    the lowest-common-denominator corpus interchange format). Token
    totals computed from the read-back lines must equal the original
    table's: the text leg drops nothing (documents contain no
    newlines; a real pipeline would escape or length-prefix)."""
    d = load_table(spark, sf_dir, "documents")
    path = scratch_path(sf_dir, "io2", "documents_txt")
    d.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)
    toks = back.select(F.explode(F.split("value", " ")).alias("token"))
    return toks.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("token").alias("n_distinct"),
    )


@query(
    "a12_zstd_parquet",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
             AS total_price
    FROM lineitem
    """,
)
def a12_zstd_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 (added): parquet with explicit zstd codec — the 100 TB
    at-rest default (denser than snappy at similar scan cost). Write
    with compression=zstd, read back, prove losslessness against the
    original table."""
    li = load_table(spark, sf_dir, "lineitem")
    path = scratch_path(sf_dir, "io2", "lineitem_zstd")
    li.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(F.col("l_extendedprice"), 2).alias("total_price"),
    )


@query(
    "a14_clustered_layout",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) / 1000000.0
             AS value_total
    FROM events
    WHERE user_id BETWEEN 100 AND 199
    GROUP BY event_type
    """,
)
def a14_clustered_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 (added): range-clustered data layout — the write-side half of
    scan pruning: ``repartitionByRange(user_id)`` puts disjoint user
    ranges in separate files and ``sortWithinPartitions(user_id, ts)``
    orders rows inside each, so every parquet file/row-group carries
    tight user_id min/max stats. A later user-band read skips all files
    whose range can't match (footer stats + pushed filter) — at 100 TB
    the difference between scanning ~1/N of the table and all of it,
    without a partition directory per user. The read-back band
    aggregate must match the oracle over the ORIGINAL table, proving
    the clustered rewrite is lossless; the pushed filter is asserted in
    tests/test_plans.py."""
    ev = load_table(spark, sf_dir, "events")
    path = scratch_path(sf_dir, "io2", "events_clustered")
    (
        ev.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("user_id").between(100, 199)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        grid_sum(F.col("value")).alias("value_total"),
    )


@query(
    "k7_cogroup_asof",
    oracle="""
    SELECT p.event_id, p.user_id,
           CAST(p.ts AS VARCHAR) AS purchase_ts,
           c.event_id AS click_event_id,
           CAST(c.ts AS VARCHAR) AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def k7_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7 (added): cogrouped ``applyInPandas`` — two frames grouped on
    the same key, each aligned (purchases, clicks) group pair handed to
    one pandas function (``pd.merge_asof``). The third grouped-Python
    surface after grouped-map (k3) and grouped state (j7), and the
    idiomatic escape hatch when per-key logic needs TWO aligned inputs.
    Same answer as c8_asof_join's window formulation (and the same
    one-shuffle-per-side scale shape: cogroup shuffles both frames on
    the group key, then runs per-group merges independently).

    The cogroup key is a user-id BUCKET (pmod(user_id, B)), not the raw
    user_id (r15 optimization round, guide §4): grouped-Python cost is
    per GROUP — one Arrow round-trip + two pandas frame builds + one
    merge per key — so keying by user paid that overhead n_users times
    for ~3-row groups.  ``merge_asof(..., by=user)`` inside each bucket
    reproduces the exact per-user backward-asof semantics (matches
    never cross users), so the result is invariant to B by
    construction.  B = session.group_buckets(spark, n_events, 1M) caps
    the expected per-bucket frames at ~1M rows = ~tens of MB (n_events
    upper-bounds both the purchase and click sides), with one count()
    job for n.
    Interleaved same-session A/B at sf0.1:
    10.8-12.0 s per-user -> 1.3-1.7 s bucketed, identical 20,084 rows.
    No (user_id, ts) duplicate clicks exist at any sf (DuckDB-checked),
    so every asof pick is unambiguous on both engines."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()  # bounded driver pin: one scalar
    nb = group_buckets(spark, n, 1_000_000)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.pmod(F.col("user_id"), F.lit(nb)).alias("bkt"),
    )
    # the right side's columns are renamed: merge_asof's by-columns and
    # the output schema must not collide with left-frame names
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("click_ts"),
        F.pmod(F.col("user_id"), F.lit(nb)).alias("bkt"),
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return pd.DataFrame(
                columns=[
                    "event_id",
                    "user_id",
                    "ts",
                    "click_event_id",
                    "click_ts",
                ]
            )
        # merge_asof needs both frames sorted by the on-key globally;
        # per-user order among equal ts never matters (no duplicate
        # (user_id, ts) clicks exist — see docstring)
        left = left.sort_values("ts")
        right = right.sort_values("click_ts")
        out = pd.merge_asof(
            left,
            right[["click_ts", "click_event_id", "u"]],
            left_on="ts",
            right_on="click_ts",
            left_by="user_id",
            right_by="u",
            direction="backward",
        )
        out["click_event_id"] = out["click_event_id"].astype("Int64")
        return out[
            ["event_id", "user_id", "ts", "click_event_id", "click_ts"]
        ]

    merged = (
        purchases.groupBy("bkt")
        .cogroup(clicks.groupBy("bkt"))
        .applyInPandas(
            merge,
            schema=(
                "event_id long, user_id long, ts timestamp,"
                " click_event_id long, click_ts timestamp"
            ),
        )
    )
    return merged.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("purchase_ts"),
        "click_event_id",
        F.col("click_ts").cast("string").alias("click_ts"),
    )


@query(
    "k8_grouped_agg_udaf",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                - MIN(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                - MAX(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                AS DOUBLE)
             / ((COUNT(*) - 2) * 100.0) AS trimmed_mean_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def k8_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 (added): grouped-AGGREGATE pandas UDF (series -> scalar in
    ``groupBy().agg()``) — the Python UDAF surface, distinct from the
    scalar (k2) and grouped-map (k3) forms. Computes a min/max-trimmed
    mean of account balance per market segment; all arithmetic runs on
    integer cents (one float division at the end) so the double is
    bit-identical cross-engine — the house determinism rule carried
    into Python. Scale: Spark evaluates grouped-agg pandas UDFs with
    partial merges disabled, so the full group's series ships to one
    task — fine for bounded groups; unbounded keys belong in built-in
    aggs or a two-level pre-agg."""
    import numpy as np

    @F.pandas_udf("double")
    def trimmed_mean(s: pd.Series) -> float:
        cents = np.floor(s.to_numpy() * 100.0 + 0.5).astype("int64")
        total = cents.sum() - cents.min() - cents.max()
        return float(total) / ((len(cents) - 2) * 100.0)

    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        trimmed_mean(F.col("c_acctbal")).alias("trimmed_mean_bal")
    )


@query(
    "a15_file_lineage",
    oracle="""
    SELECT o_orderstatus AS status_from_path,
           COUNT(*) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def a15_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 (added): row-level file lineage via the ``_metadata`` hidden
    columns — every scanned row exposes which physical file produced it
    (the provenance/audit primitive: quarantine a bad extract file,
    re-ingest one day, bill a source). The check re-derives each row's
    partition value FROM ITS FILE PATH and aggregates: path-derived
    groups must equal the table's own groups, and each status directory
    holds exactly one file (the write repartitions by the partition
    column first — the standard one-file-per-partition discipline that
    avoids small-file explosions at 100 TB)."""
    o = load_table(spark, sf_dir, "orders")
    path = scratch_path(sf_dir, "io2", "orders_lineage")
    (
        o.repartition("o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(path)
    )
    back = spark.read.parquet(path).select(
        F.regexp_extract(
            F.col("_metadata.file_path"), "o_orderstatus=([A-Z])", 1
        ).alias("status_from_path"),
        F.col("_metadata.file_name").alias("fname"),
    )
    return back.groupBy("status_from_path").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("fname").alias("n_files"),
    )


@query(
    "h8_xml_extract",
    oracle=r"""
    WITH x AS (
      SELECT '<order id="' || o_orderkey || '"><prio>' || o_orderpriority
             || '</prio><st>' || o_orderstatus || '</st></order>' AS xml
      FROM orders WHERE o_orderkey < 5000
    )
    SELECT CAST(regexp_extract(xml, 'id="(\d+)"', 1) AS BIGINT) AS okey,
           regexp_extract(xml, '<prio>([^<]*)</prio>', 1) AS prio,
           regexp_extract(xml, '<st>([^<]*)</st>', 1) AS status
    FROM x
    """,
)
def h8_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H8 (Spark 4 surface): XML ingestion via ``from_xml`` — the
    third semi-structured decoder alongside JSON (h6b) and VARIANT
    (h7). The XML payload is built from orders columns so the parse is
    self-certifying: attribute (``_id``) and element (prio, st)
    extraction must round-trip the original values exactly. DuckDB has
    no XML type, so the oracle re-extracts with regexps — fair, because
    the contract under test is the VALUES recovered, not the parser.
    from_xml runs JVM-side (StaxXmlParser) per row with no shuffle; at
    100 TB it pipelines inside the scan like any projection."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    xml = F.concat(
        F.lit('<order id="'),
        F.col("o_orderkey"),
        F.lit('"><prio>'),
        F.col("o_orderpriority"),
        F.lit("</prio><st>"),
        F.col("o_orderstatus"),
        F.lit("</st></order>"),
    )
    parsed = F.from_xml(
        xml, "STRUCT<_id: BIGINT, prio: STRING, st: STRING>"
    )
    return o.select(parsed.alias("p")).select(
        F.col("p._id").alias("okey"),
        F.col("p.prio").alias("prio"),
        F.col("p.st").alias("status"),
    )


@query(
    "a16_fixed_width",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           TRIM(n_name) AS nation,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def a16_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 (added): fixed-width text ingest — the mainframe/EDI
    interchange format Spark has no native reader for. The nation table
    is laid out as 4+25+4-char fixed columns (rpad), landed as raw text,
    then parsed back by column OFFSETS (substring — pure codegen, no
    regex, no split): exactly how a COBOL copybook spec is executed at
    scale. The oracle reads the ORIGINAL table, so the hash match proves
    the fixed-width round trip is lossless including trailing-space
    semantics (TRIM on both sides).

    Scale: text source splits by line, substring parse is narrow and
    shuffle-free — ingest throughput is scan-bound, same as CSV.
    """
    n = load_table(spark, sf_dir, "nation")
    path = scratch_path(sf_dir, "io2", "nation_fixed")
    lines = n.select(
        F.concat(
            F.rpad(F.col("n_nationkey").cast("string"), 4, " "),
            F.rpad("n_name", 25, " "),
            F.rpad(F.col("n_regionkey").cast("string"), 4, " "),
        ).alias("value")
    )
    lines.coalesce(1).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.select(
        F.trim(F.substring("value", 1, 4)).cast("long").alias("n_nationkey"),
        F.trim(F.substring("value", 5, 25)).alias("nation"),
        F.trim(F.substring("value", 30, 4)).cast("long").alias("n_regionkey"),
    )


def _morton5(u: str, d: str) -> str:
    """SQL text interleaving two 5-bit ints into a 10-bit Morton code —
    identical syntax is valid in Spark SQL and DuckDB (<<, >>, & all
    shipped in both), so ONE string serves both engines."""
    terms = []
    for i in range(5):
        terms.append(f"((({u} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({d} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


_Z_EXPR = _morton5("ub", "day")

_ZORDER_ORACLE = f"""
    WITH mx AS (SELECT MAX(user_id) AS max_u FROM events),
    base AS (
      SELECT event_id, user_id,
             DATEDIFF('day', DATE '2024-01-01', CAST(ts AS TIMESTAMP))
               AS day,
             (user_id * 32) // (max_u + 1) AS ub
      FROM events CROSS JOIN mx
    ),
    z AS (
      SELECT event_id, user_id, day, {_Z_EXPR} AS zval FROM base
    ),
    bkt AS (
      SELECT user_id, day,
             NTILE(16) OVER (ORDER BY zval, event_id) AS zbkt,
             NTILE(16) OVER (ORDER BY user_id, day, event_id) AS lbkt
      FROM z
    ),
    zb AS (
      SELECT zbkt, MIN(user_id) AS umin, MAX(user_id) AS umax,
             MIN(day) AS dmin, MAX(day) AS dmax, COUNT(*) AS nrows
      FROM bkt GROUP BY zbkt
    ),
    lb AS (
      SELECT lbkt, MIN(user_id) AS umin, MAX(user_id) AS umax,
             MIN(day) AS dmin, MAX(day) AS dmax, COUNT(*) AS nrows
      FROM bkt GROUP BY lbkt
    ),
    mm AS (
      SELECT
        CAST(SUM(CASE WHEN user_id * 8 < max_u + 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS match_user,
        CAST(SUM(CASE WHEN day BETWEEN 8 AND 14 THEN 1 ELSE 0 END)
             AS BIGINT) AS match_day
      FROM base CROSS JOIN mx
    )
    SELECT 'zorder' AS layout, 'user_band' AS probe,
           CAST(SUM(CASE WHEN umin * 8 < max_u + 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_buckets_hit,
           CAST(SUM(CASE WHEN umin * 8 < max_u + 1 THEN nrows ELSE 0 END)
                AS BIGINT) AS rows_scanned,
           MIN(mm.match_user) AS rows_matching
    FROM zb CROSS JOIN mx CROSS JOIN mm
    UNION ALL
    SELECT 'zorder', 'day_band',
           CAST(SUM(CASE WHEN dmin <= 14 AND dmax >= 8 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(SUM(CASE WHEN dmin <= 14 AND dmax >= 8 THEN nrows
                    ELSE 0 END) AS BIGINT),
           MIN(mm.match_day)
    FROM zb CROSS JOIN mm
    UNION ALL
    SELECT 'linear_user', 'user_band',
           CAST(SUM(CASE WHEN umin * 8 < max_u + 1 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(SUM(CASE WHEN umin * 8 < max_u + 1 THEN nrows ELSE 0 END)
                AS BIGINT),
           MIN(mm.match_user)
    FROM lb CROSS JOIN mx CROSS JOIN mm
    UNION ALL
    SELECT 'linear_user', 'day_band',
           CAST(SUM(CASE WHEN dmin <= 14 AND dmax >= 8 THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(SUM(CASE WHEN dmin <= 14 AND dmax >= 8 THEN nrows
                    ELSE 0 END) AS BIGINT),
           MIN(mm.match_day)
    FROM lb CROSS JOIN mm
"""


@query("a17_zorder_layout", oracle=_ZORDER_ORACLE)
def a17_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 (added): Z-order (Morton) multi-dimension clustering — the
    lakehouse layout for tables probed on MORE THAN ONE column, where
    a14's single-axis range clustering prunes only its sort key.

    Model: each event gets a 10-bit Morton code interleaving its scaled
    user bucket (5 bits, ``(user_id*32) div (max+1)`` so the mapping is
    order-preserving at every sf) with its day-of-month; rows are cut
    into 16 equal files by NTILE over (zval, event_id) — the
    deterministic stand-in for ``repartitionByRange(zval)`` (whose
    sampled boundaries are not cross-engine reproducible).  For a
    user-band probe and a day-band probe the query reports, per layout
    (z-order vs linear user sort): how many file-stat boxes intersect
    the probe and how many rows a min/max-skipping reader would scan.
    The measured point of Z-ORDER: the linear layout answers the user
    probe perfectly and the day probe by scanning EVERYTHING; z-order
    answers BOTH at a fraction — layout quality is a driver-checked
    number here, not doc prose.  The physical write (repartitionByRange
    on zval + sortWithinPartitions, real parquet files, _metadata
    min/max boxes) is exercised in tests/test_plans.py.

    Exactness: every output is a COUNT/SUM of integers; the Morton
    expression is one shared SQL string (shift/and/or semantics are
    identical in both engines).  Scale: the NTILE global sort is the
    model's driver-checkable stand-in — a production write uses
    range-partition-by-zval (two-phase rank, global_shuffle pattern),
    which is one corpus shuffle; stats boxes are one groupBy over file
    ids.
    """
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("user_id").alias("max_u"))
    base = ev.crossJoin(F.broadcast(mx)).select(
        "event_id",
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).alias(
            "day"
        ),
        F.expr("(user_id * 32) div (max_u + 1)").alias("ub"),
        "max_u",
    )
    z = base.select(
        "event_id", "user_id", "day", "max_u", F.expr(_Z_EXPR).alias("zval")
    )
    bkt = z.select(
        "user_id",
        "day",
        "max_u",
        F.ntile(16).over(Window.orderBy("zval", "event_id")).alias("zbkt"),
        F.ntile(16)
        .over(Window.orderBy("user_id", "day", "event_id"))
        .alias("lbkt"),
    )
    mm = bkt.agg(
        F.sum(
            F.when(F.col("user_id") * 8 < F.col("max_u") + 1, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("match_user"),
        F.sum(F.when(F.col("day").between(8, 14), 1).otherwise(0))
        .cast("bigint")
        .alias("match_day"),
    )

    def boxes(key: str) -> DataFrame:
        return bkt.groupBy(key).agg(
            F.min("user_id").alias("umin"),
            F.max("user_id").alias("umax"),
            F.min("day").alias("dmin"),
            F.max("day").alias("dmax"),
            F.count(F.lit(1)).alias("nrows"),
            F.min("max_u").alias("max_u"),
        )

    def probe_stats(b: DataFrame, layout: str, probe: str) -> DataFrame:
        if probe == "user_band":
            hit = F.col("umin") * 8 < F.col("max_u") + 1
            match_col = "match_user"
        else:
            hit = (F.col("dmin") <= 14) & (F.col("dmax") >= 8)
            match_col = "match_day"
        return (
            b.crossJoin(F.broadcast(mm))
            .agg(
                F.sum(F.when(hit, 1).otherwise(0))
                .cast("bigint")
                .alias("n_buckets_hit"),
                F.sum(F.when(hit, F.col("nrows")).otherwise(0))
                .cast("bigint")
                .alias("rows_scanned"),
                F.min(match_col).alias("rows_matching"),
            )
            .select(
                F.lit(layout).alias("layout"),
                F.lit(probe).alias("probe"),
                "n_buckets_hit",
                "rows_scanned",
                "rows_matching",
            )
        )

    zb, lb = boxes("zbkt"), boxes("lbkt")
    return (
        probe_stats(zb, "zorder", "user_band")
        .unionByName(probe_stats(zb, "zorder", "day_band"))
        .unionByName(probe_stats(lb, "linear_user", "user_band"))
        .unionByName(probe_stats(lb, "linear_user", "day_band"))
    )


@query(
    "k9_grouped_apply_in_arrow",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def k9_grouped_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K9 (Spark 4): grouped ``applyInArrow`` — the zero-pandas sibling
    of K3's applyInPandas: each language group arrives as a pyarrow
    Table and is reduced with pyarrow.compute kernels (no pandas
    materialization, no Python-object rows). Completes the Arrow
    surface: scalar arrow UDF (k5), mapInArrow (k6), cogrouped pandas
    (k7), grouped-agg UDAF (k8), grouped Arrow (here).

    Integer reductions only, so parity is exact. Scale: one shuffle on
    the group key; per-group work is columnar C++ kernels.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def reduce_group(t: "pa.Table") -> "pa.Table":
        n = t.column("n_chars")
        return pa.table(
            {
                "lang": [t.column("lang")[0].as_py()],
                "n_docs": pa.array([t.num_rows], type=pa.int64()),
                "total_chars": pa.array(
                    [pc.sum(n).as_py()], type=pa.int64()
                ),
                "max_chars": pa.array([pc.max(n).as_py()], type=pa.int64()),
            }
        )

    d = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return d.groupBy("lang").applyInArrow(
        reduce_group,
        schema="lang string, n_docs long, total_chars long, max_chars long",
    )
