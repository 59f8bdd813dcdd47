"""Relational core queries (SURVEY.md §2 categories A/B/C/D/E/F/G).

Every query here is declared with the DataFrame API so Catalyst owns the
physical plan (predicate pushdown to the parquet scan, column pruning,
broadcast-vs-SMJ join selection, AQE coalesce/skew handling). Scale
posture per operator is noted in its docstring.

Determinism rules (SURVEY.md §2 footer + functions/canonical.py): every
aggregate/computed column is aliased identically in Spark and oracle SQL;
money aggregates use exact DECIMAL(38,p) sums cast once to double (never
ROUND — the engines tie-break rounding differently and money data sits on
decimal-grid ties); timestamps cross the oracle boundary as strings;
every top-k has a total-order tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.functions.canonical import (
    cents_grid,
    dec_sum,
    dec_sum_grid,
)
from etl_data_pipeline_spark.plans.registry import query


# --------------------------------------------------------------------------
# A. scans
# --------------------------------------------------------------------------

@query(
    "a1_parquet_scan",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def a1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: parquet scan with footer schema; column pruning applies."""
    return load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@query(
    "a5_nanos_ingest",
    oracle="""
    SELECT event_id, CAST(ts AS VARCHAR) AS ts_str, event_type FROM events
    """,
)
def a5_nanos_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: nanos-timestamp parquet ingest (SURVEY §1.4).

    Spark reads INT64 TIMESTAMP(NANOS) via nanosAsLong + timestamp_micros;
    DuckDB natively truncates to its microsecond timestamps — identical.
    Timestamps cross the oracle boundary as strings (engine convention:
    Spark CAST(ts AS STRING) == DuckDB CAST(ts AS VARCHAR), verified
    byte-identical including trailing-zero trimming).
    """
    return load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("string").alias("ts_str"), "event_type"
    )


# --------------------------------------------------------------------------
# B. projections / filters / predicates
# --------------------------------------------------------------------------

@query(
    "b1_project_derive",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
           l_quantity * 1000 AS qty_milli
    FROM lineitem
    """,
)
def b1_project_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: project / rename / derive columns — narrow transform, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax"))
        ).alias("charged"),
        (F.col("l_quantity") * 1000).alias("qty_milli"),
    )


@query(
    "b2_filter_predicates",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 200000
      AND o_orderstatus IN ('O', 'F')
      AND o_orderpriority LIKE '%URGENT%'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND NOT (o_custkey % 10 = 3)
    """,
)
def b2_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: comparison/BETWEEN/IN/LIKE/boolean predicates.

    All predicates are on raw columns so they push to the parquet scan
    (visible as PushedFilters in .explain).
    """
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(50000, 200000)
        & F.col("o_orderstatus").isin("O", "F")
        & F.col("o_orderpriority").like("%URGENT%")
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & ~(F.col("o_custkey") % 10 == 3)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@query(
    "b3_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000 THEN 'high'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           CASE o_orderstatus WHEN 'O' THEN 'open'
                              WHEN 'F' THEN 'finished'
                              ELSE 'partial' END AS status_name
    FROM orders
    """,
)
def b3_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: conditional expressions (CASE/WHEN)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.when(F.col("o_orderstatus") == "O", "open")
        .when(F.col("o_orderstatus") == "F", "finished")
        .otherwise("partial")
        .alias("status_name"),
    )


@query(
    "b4_null_handling",
    oracle="""
    WITH withnulls AS (
      SELECT c_custkey,
             NULLIF(c_mktsegment, 'MACHINERY') AS seg_or_null,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_or_null
      FROM customer
    )
    SELECT c_custkey,
           COALESCE(seg_or_null, 'UNKNOWN') AS seg_filled,
           COALESCE(bal_or_null, 0.0) AS bal_filled,
           (bal_or_null IS NULL) AS bal_was_null
    FROM withnulls
    WHERE seg_or_null IS NOT NULL OR bal_or_null IS NOT NULL
    """,
)
def b4_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: null introduction (nullif-style), drop, fill, coalesce, is-null."""
    c = load_table(spark, sf_dir, "customer")
    withnulls = c.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg_or_null"),
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal_or_null"),
    )
    # na.drop(how="all", subset=...) == WHERE a IS NOT NULL OR b IS NOT NULL
    dropped = withnulls.na.drop(how="all", subset=["seg_or_null", "bal_or_null"])
    return dropped.select(
        "c_custkey",
        F.coalesce("seg_or_null", F.lit("UNKNOWN")).alias("seg_filled"),
        F.coalesce("bal_or_null", F.lit(0.0)).alias("bal_filled"),
        F.col("bal_or_null").isNull().alias("bal_was_null"),
    )


@query(
    "b5_casts",
    oracle="""
    SELECT o_orderkey,
           CAST(TRUNC(o_totalprice) AS BIGINT) AS price_int,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS date_str,
           CAST(SUBSTR(o_orderpriority, 1, 1) AS INTEGER) AS priority_num
    FROM orders
    """,
)
def b5_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: casts string<->num<->date<->timestamp.

    CAST(double AS BIGINT) truncates toward zero in both engines.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        F.col("o_orderdate").cast("date").cast("string").alias("date_str"),
        F.substring("o_orderpriority", 1, 1).cast("int").alias("priority_num"),
    )


# --------------------------------------------------------------------------
# D. aggregations (q1 first — the headline pricing summary)
# --------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           AVG(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1+B2: filter + 2-key hash groupBy with 7 aggregates (TPC-H Q1 shape).

    Scale: partial aggregation map-side then exchange on the (tiny) group
    key space — the canonical scalable agg; AQE coalesces post-shuffle
    partitions.

    Money sums: the row's three 2dp columns are recovered once each as
    integer cents (``cents_grid``), and the derived grids are pure
    integer arithmetic —
        disc_price grid (1e4)  v4 = ep_c * (100 - d_c)
        charge grid (1e6)      v6 = v4 * (100 + t_c)
    — exactly the integers DECIMAL(38,4)/(38,6) sums would carry, since
    ep, d, t are exact 2dp-grid values. ``dec_sum_grid`` sums them (its
    envelope is stated once in functions/canonical.py). Base price and
    discount sum as single BIGINTs: at most 1e7 and 10 cents per row.
    The averages divide those sums post-agg (integer-valued doubles sum
    exactly in any order), so Catalyst keeps 8 aggregate functions.
    Rejected alternatives (kept so they aren't retried): per-row
    DECIMAL(38,s) conversion 2.3x slower; pre-projection grid hoist
    0.430 vs 0.437 s — codegen CSE already dedups the shared ep_c/d_c.
    bench.py re-measures the q1 paired ratio every run.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ep_c = cents_grid(F.col("l_extendedprice"), 2)
    d_c = cents_grid(F.col("l_discount"), 2)
    t_c = cents_grid(F.col("l_tax"), 2)
    v4 = ep_c * (F.lit(100) - d_c)
    v6 = v4 * (F.lit(100) + t_c)
    sum_qty = F.sum("l_quantity")
    sum_base = F.sum(ep_c) / 100.0
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.alias("sum_qty"),
            sum_base.alias("sum_base_price"),
            dec_sum_grid(v4, 4).alias("sum_disc_price"),
            dec_sum_grid(v6, 6).alias("sum_charge"),
            (sum_qty / n).alias("avg_qty"),
            (sum_base / n).alias("avg_price"),
            (F.sum(d_c) / 100.0 / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "d2_global_agg",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS total_price,
           AVG(l_quantity) AS avg_qty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    """,
)
def d2_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: global (no-key) aggregation — single-row result via partial aggs."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dec_sum(F.col("l_extendedprice"), 2).alias("total_price"),
        F.avg("l_quantity").alias("avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@query(
    "distinct_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: multi distinct aggregation, decomposed.

    Spark's native plan for N distinct aggs is a single Expand that
    multiplies every input row N-fold before one big shuffle; decomposing
    into per-column distinct->count legs joined on the group key shuffles
    only the (key, value) DISTINCT pairs per leg — strictly less data
    when values repeat (measured ~1.8x faster at sf0.1, and the gap widens
    with row count since partial-distinct collapses map-side). The legs
    run as independent stages, so a cluster overlaps them.
    """
    li = load_table(spark, sf_dir, "lineitem")

    def leg(col: str, alias: str) -> DataFrame:
        return (
            li.select("l_returnflag", col)
            .distinct()
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    rows = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n_rows"))
    return (
        leg("l_partkey", "n_parts")
        .join(leg("l_suppkey", "n_supps"), "l_returnflag")
        .join(leg("l_orderkey", "n_orders"), "l_returnflag")
        .join(rows, "l_returnflag")
        .select("l_returnflag", "n_parts", "n_supps", "n_orders", "n_rows")
    )


@query(
    "d4_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_exact,
           COUNT(*) AS n_rows,
           1 AS approx_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d4_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: approx_count_distinct (HLL++) — scale path for distinct counts.

    EXACT error-bound oracle (the ann_recall template): HLL sketches
    differ across engines, so instead of the raw estimate the query
    emits the exact distinct count plus a MEASURED bound check —
    ``approx_within_5pct`` is 1 iff the Spark HLL estimate (rsd=0.01,
    typical error ~1%) sits within ±5% of the exact count; the oracle
    asserts the constant 1, so an out-of-tolerance sketch flips the
    driver hash red. The comparison is pure integer arithmetic
    (approx*20 vs n_exact*19/21) — no float boundary.
    Raw-estimate tolerance is additionally asserted in
    tests/test_operators.py::test_d4_approx_within_tolerance.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("approx"),
            F.count_distinct("l_partkey").alias("n_exact"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "n_exact",
            "n_rows",
            (
                (F.col("approx") * 20 >= F.col("n_exact") * 19)
                & (F.col("approx") * 20 <= F.col("n_exact") * 21)
            )
            .cast("int")
            .alias("approx_within_5pct"),
        )
    )


@query(
    "d5_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           SUM(l_quantity) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def d5_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: rollup (grouping sets); COALESCE pins the subtotal marker rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


@query(
    "d6_filtered_agg",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,2))) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS returned_price,
           COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
           CAST(SUM(CAST(CASE WHEN l_quantity > 25 THEN l_extendedprice ELSE 0 END AS DECIMAL(38,2))) AS DOUBLE) AS bulk_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def d6_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: filtered aggregation (FILTER clause / conditional sum)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        dec_sum(
            F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice")), 2
        ).alias("returned_price"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
        dec_sum(
            F.when(F.col("l_quantity") > 25, F.col("l_extendedprice")).otherwise(0.0),
            2,
        ).alias("bulk_price"),
    )


@query(
    "d7_collect_list_str",
    oracle="""
    SELECT n_regionkey,
           STRING_AGG(n_name, ',' ORDER BY n_name) AS members
    FROM nation
    GROUP BY n_regionkey
    """,
)
def d7_collect_list_str(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: collect_list/set — emitted as a sorted joined string so the
    cross-engine hash is order-stable (arrays stringify differently)."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("members")
    )


@query(
    "d8_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 6) AS p50,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.9), 6) AS p90,
           ROUND(MEDIAN(l_quantity), 6) AS med_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d8_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: exact percentiles / median (linear interpolation both engines).

    Scale note: exact percentile sorts per group; at 100 TB prefer
    percentile_approx (registered as d8b) — kept exact here for oracle
    parity.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.5), 6).alias("p50"),
        F.round(F.percentile("l_extendedprice", 0.9), 6).alias("p90"),
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
    )


@query(
    "d8b_percentile_approx",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 6) AS p50_exact,
           1 AS within_rank_bound
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def d8b_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 scale path: approx percentile (KLL-style sketch, mergeable).

    EXACT error-bound oracle (ann_recall template): the sketch value is
    engine-specific, so the query emits the exact interpolated p50 (d8
    parity, hash-checked) plus ``within_rank_bound`` — 1 iff the approx
    p50 (accuracy=10000, guaranteed rank error 1e-4) falls between the
    exact quantiles at 0.5 ± 0.001 (10x the guaranteed bound, still a
    tight 0.2%-of-ranks window). The oracle asserts the constant 1, so
    an out-of-bound sketch flips the driver hash red.
    Raw-value tolerance is additionally asserted in
    tests/test_operators.py::test_d8b_approx_percentile_near_exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50a"),
            F.percentile("l_extendedprice", 0.5).alias("p50_raw"),
            F.percentile("l_extendedprice", 0.499).alias("lo"),
            F.percentile("l_extendedprice", 0.501).alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            F.round(F.col("p50_raw"), 6).alias("p50_exact"),
            ((F.col("p50a") >= F.col("lo")) & (F.col("p50a") <= F.col("hi")))
            .cast("int")
            .alias("within_rank_bound"),
        )
    )


# --------------------------------------------------------------------------
# C. joins
# --------------------------------------------------------------------------

@query(
    "c1_inner_join",
    oracle="""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment,
           o.o_orderkey, o.o_totalprice
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 400000
    """,
)
def c1_inner_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: equi inner join — Spark picks broadcast vs SMJ from sizes/AQE."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "inner").select(
        "c_custkey", "c_name", "c_mktsegment", "o_orderkey", "o_totalprice"
    )


@query(
    "c2_left_join",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_big_orders,
           COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 0.0) AS big_total
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def c2_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: left outer join (unmatched rows surface as nulls, then agg)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.coalesce(dec_sum(F.col("o_totalprice"), 2), F.lit(0.0)).alias(
                "big_total"
            ),
        )
    )


@query(
    "c2_right_join",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_big_orders,
           COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) AS DOUBLE), 0.0) AS big_total
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
    RIGHT JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def c2_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: right outer join — filtered orders on the LEFT, every customer
    row preserved from the RIGHT (how='right'; mirror of c2_left_join,
    same result set, opposite join orientation)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_big_orders"),
            F.coalesce(dec_sum(F.col("o_totalprice"), 2), F.lit(0.0)).alias(
                "big_total"
            ),
        )
    )


@query(
    "c2_full_outer_join",
    oracle="""
    WITH big_cust AS (SELECT * FROM customer WHERE c_acctbal > 9000),
         big_ord  AS (SELECT * FROM orders WHERE o_totalprice > 450000)
    SELECT COALESCE(c.c_custkey, -1) AS cust_side_key,
           COALESCE(o.o_custkey, -1) AS order_side_key,
           o.o_orderkey,
           (c.c_custkey IS NULL) AS cust_missing,
           (o.o_orderkey IS NULL) AS order_missing
    FROM big_cust c FULL OUTER JOIN big_ord o ON c.c_custkey = o.o_custkey
    """,
)
def c2_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: full outer join with nulls on both sides."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select(
        F.coalesce("c_custkey", F.lit(-1)).alias("cust_side_key"),
        F.coalesce("o_custkey", F.lit(-1)).alias("order_side_key"),
        "o_orderkey",
        F.col("c_custkey").isNull().alias("cust_missing"),
        F.col("o_orderkey").isNull().alias("order_missing"),
    )


@query(
    "c3_left_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def c3_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: left semi join (EXISTS/IN shape, no right columns, no dup rows)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "c3_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def c3_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: left anti join (NOT EXISTS shape)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "c4_broadcast_join",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,2))) AS DOUBLE) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def c4_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: explicit broadcast hint for a small dimension.

    At 100 TB nation stays tiny — broadcasting avoids shuffling the fact
    table entirely (this is the single biggest join win at scale).
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum(F.col("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "c5_cross_join",
    oracle="""
    SELECT r.r_name, t.o_orderstatus, r.r_regionkey + t.status_count AS mixed
    FROM region r
    CROSS JOIN (SELECT o_orderstatus, COUNT(*) AS status_count
                FROM orders GROUP BY o_orderstatus) t
    """,
)
def c5_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: cross join (bounded: 5 regions x 3 statuses)."""
    r = load_table(spark, sf_dir, "region")
    t = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("status_count"))
    )
    return r.crossJoin(t).select(
        "r_name",
        "o_orderstatus",
        (F.col("r_regionkey") + F.col("status_count")).alias("mixed"),
    )


@query(
    "c6_range_join",
    oracle="""
    SELECT s.s_suppkey,
           COUNT(c.c_custkey) AS n_close_customers
    FROM supplier s
    LEFT JOIN customer c
      ON c.c_acctbal > s.s_acctbal - 100 AND c.c_acctbal <= s.s_acctbal
    GROUP BY s.s_suppkey
    """,
)
def c6_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: non-equi (range) join -> broadcast nested-loop.

    Scale note: pure theta joins are O(n*m); at 100 TB bucket both sides
    by floor(acctbal/100) first to convert to equi-join + residual (that
    variant is c6b).
    """
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    cond = (c.c_acctbal > s.s_acctbal - 100) & (c.c_acctbal <= s.s_acctbal)
    return (
        s.join(c, cond, "left")
        .groupBy("s_suppkey")
        .agg(F.count("c_custkey").alias("n_close_customers"))
    )


@query(
    "c6b_banded_range_join",
    oracle="""
    SELECT s.s_suppkey,
           COUNT(c.c_custkey) AS n_close_customers
    FROM supplier s
    LEFT JOIN customer c
      ON c.c_acctbal > s.s_acctbal - 100 AND c.c_acctbal <= s.s_acctbal
    GROUP BY s.s_suppkey
    """,
)
def c6b_banded_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 scale path: band the range join into an equi-join on bucket id.

    Each supplier row is exploded to the (at most 2) 100-wide buckets its
    window [s_acctbal-100, s_acctbal] overlaps; joining on bucket id turns
    the O(n*m) nested loop into a hash join + residual predicate. Same
    answer as c6_range_join.
    """
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    band = 100.0
    s_b = s.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor((F.col("s_acctbal") - band) / band).cast("long"),
                F.floor(F.col("s_acctbal") / band).cast("long"),
            )
        ),
    )
    c_b = c.withColumn("bucket", F.floor(F.col("c_acctbal") / band).cast("long"))
    cond = (
        (s_b.bucket == c_b.bucket)
        & (c_b.c_acctbal > s_b.s_acctbal - band)
        & (c_b.c_acctbal <= s_b.s_acctbal)
    )
    joined = s_b.join(c_b, cond, "left")
    # a supplier row with no match in ANY bucket still yields one row per
    # bucket with null custkey; count(c_custkey) ignores nulls so the
    # group-by result matches the plain range join.
    return joined.groupBy("s_suppkey").agg(
        F.count("c_custkey").alias("n_close_customers")
    )


@query(
    "q3_topk_join",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS VARCHAR) AS orderdate_str
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS VARCHAR)
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_topk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+F2: 3-way join, group, deterministic top-10 (TPC-H Q3 shape).

    The ORDER BY ... LIMIT lowers to TakeOrderedAndProject (no global
    sort); revenue is an exact ``dec_sum`` so both engines rank the
    same values, with l_orderkey as total-order tiebreak.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_orderkey", F.col("o_orderdate").cast("string").alias("orderdate_str")
        )
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "orderdate_str")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_multi_join",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_multi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: 5-way star join + agg (TPC-H Q5 shape) — the flagship query.

    Scale posture: region/nation broadcast (tiny forever); customer joins
    orders and orders joins lineitem on their natural keys — Catalyst/AQE
    picks SMJ or shuffled hash and handles skew. Filters sit on base
    tables so they push into the parquet scans.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# --------------------------------------------------------------------------
# E. window functions
# --------------------------------------------------------------------------

@query(
    "window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    QUALIFY rn <= 3
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+E4: ranking window functions + top-N per group.

    The window order has a total-order tiebreak (o_orderkey) so
    row_number/ntile are deterministic. One shuffle on o_custkey.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            # cast to long: Spark ranking fns return int32, the oracle's
            # window functions return int64 — dtype parity matters
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "e2_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS VARCHAR) AS orderdate_str,
           LAG(o_orderkey) OVER w AS prev_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_orderkey,
           CAST(EPOCH(o_orderdate - LAG(o_orderdate) OVER w) AS BIGINT) AS gap_seconds
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def e2_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: lag/lead/first_value analytic functions."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("string").alias("orderdate_str"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.first("o_orderkey").over(w).alias("first_orderkey"),
        (
            F.unix_timestamp("o_orderdate")
            - F.unix_timestamp(F.lag("o_orderdate").over(w))
        ).alias("gap_seconds"),
    )


@query(
    "e3_running_frames",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3,
           COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
    FROM orders
    """,
)
def e3_running_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: frame-based window aggregates (running sum, moving average)."""
    o = load_table(spark, sf_dir, "orders")
    w_ord = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dec_price = F.col("o_totalprice").cast("decimal(38,2)")
    frame_all = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame3 = w_ord.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec_price).over(frame_all).cast("double").alias("running_total"),
        (
            F.sum(dec_price).over(frame3).cast("double")
            / F.count(F.lit(1)).over(frame3)
        ).alias("moving_avg3"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_custkey"))
        .alias("n_orders"),
    )


# --------------------------------------------------------------------------
# F. sorts / limits
# --------------------------------------------------------------------------

@query(
    "f1_multi_sort",
    oracle="""
    WITH withnulls AS (
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal
      FROM customer
    )
    SELECT c_custkey, c_mktsegment, bal,
           ROW_NUMBER() OVER (ORDER BY c_mktsegment ASC, bal DESC NULLS LAST,
                              c_custkey ASC) AS sort_pos
    FROM withnulls
    """,
)
def f1_multi_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: multi-key sort asc/desc with NULLS LAST.

    The driver hash is order-insensitive, so the sort is materialized as
    an explicit sort_pos column (row_number over the same total order) —
    that makes sort correctness hash-checkable. The no-partition window
    exists only to expose that position; at 100 TB a global position is
    computed range-partitioned — sortWithinPartitions on range splits,
    then add each partition's exclusive prefix count (the two-phase rank
    pattern global_shuffle demonstrates) — never one window task.
    """
    c = load_table(spark, sf_dir, "customer")
    withnulls = c.select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
    )
    w = Window.orderBy(
        F.asc("c_mktsegment"), F.desc_nulls_last("bal"), F.asc("c_custkey")
    )
    return withnulls.select(
        "c_custkey",
        "c_mktsegment",
        "bal",
        F.row_number().over(w).cast("long").alias("sort_pos"),
    )


@query(
    "f2_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS VARCHAR) AS orderdate_str
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def f2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: global top-k -> TakeOrderedAndProject (per-partition heap +
    merge at driver; never a full global sort). o_orderkey tiebreak."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.col("o_orderdate").cast("string").alias("orderdate_str"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# G. set operations
# --------------------------------------------------------------------------

@query(
    "g1_union",
    oracle="""
    SELECT key, name, src FROM (
      SELECT c_custkey AS key, c_name AS name, 'customer' AS src FROM customer
      WHERE c_acctbal > 9500
      UNION ALL
      SELECT s_suppkey AS key, s_name AS name, 'supplier' AS src FROM supplier
      WHERE s_acctbal > 9500
    )
    """,
)
def g1_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: union all by name (never positional — survives column reorder)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.lit("customer").alias("src"),
        )
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9500)
        .select(
            F.col("s_suppkey").alias("key"),
            F.col("s_name").alias("name"),
            F.lit("supplier").alias("src"),
        )
    )
    return c.unionByName(s)


@query(
    "g1b_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def g1b_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: union distinct (union + dedup shuffle)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).distinct()


@query(
    "g2_intersect_except",
    oracle="""
    SELECT nationkey, which FROM (
      SELECT n.nationkey, 'both' AS which FROM (
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
      ) n
      UNION ALL
      SELECT n.nationkey, 'customer_only' AS which FROM (
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier
      ) n
    )
    """,
)
def g2_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2: intersect / except (distinct variants)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = c.intersect(s).withColumn("which", F.lit("both"))
    only_c = c.subtract(s).withColumn("which", F.lit("customer_only"))
    return both.unionByName(only_c)


@query(
    "g3_dedup_rows",
    oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus, l_quantity
    FROM lineitem
    """,
)
def g3_dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: full-row distinct."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus", "l_quantity").distinct()


@query(
    "g3b_dedup_subset_keepmin",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def g3b_dedup_subset_keepmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: subset dedup with a deterministic keep-min rule.

    dropDuplicates(subset) keeps an arbitrary row (whichever arrives
    first) — fine for dedup semantics but not hash-checkable; the engine
    therefore exposes the deterministic window formulation, which is also
    the scale-safe pattern (single shuffle on the dedup key).
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "c9_nullsafe_join",
    oracle="""
    WITH l AS (
      SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderkey % 5 END AS grp,
             COUNT(*) AS nl
      FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1
    ), r AS (
      SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE o_orderkey % 5 END AS grp,
             COUNT(*) AS nr
      FROM orders WHERE o_orderkey % 3 = 1 GROUP BY 1
    )
    SELECT COALESCE(CAST(l.grp AS VARCHAR), 'null') AS grp_str,
           CAST(l.nl * r.nr AS BIGINT) AS n_pairs
    FROM l JOIN r ON l.grp IS NOT DISTINCT FROM r.grp
    """,
)
def c9_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 (added): null-safe equi join (``<=>`` / IS NOT DISTINCT FROM)
    — NULL keys match each other instead of silently dropping, the
    contract late-arriving-dimension ETL needs. Still a HASH join (the
    null bucket is a normal bucket), not the BNLJ a naive
    ``l.grp = r.grp OR (l.grp IS NULL AND r.grp IS NULL)`` predicate
    would force — that distinction is the whole point at scale.

    Scale (rewritten after the sf0.1 registry sweep caught the original
    at 30.6 s): a many-to-many count over a 6-value key domain
    materializes |L_g| x |R_g| joined rows per group (~400M at sf0.1,
    quadratic in table size) just to count them.  The aggregate-before-
    join form reduces BOTH sides to (grp, count) first, null-safe-joins
    6 x 6 rows with the SAME eqNullSafe operator, and multiplies exact
    counts — identical answer, 0.6 s, and O(|distinct keys|) at any
    scale.
    """
    o = load_table(spark, sf_dir, "orders")
    grp = F.when(F.col("o_orderkey") % 7 == 0, F.lit(None)).otherwise(
        F.col("o_orderkey") % 5
    )
    left = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .groupBy(grp.alias("grp"))
        .agg(F.count(F.lit(1)).alias("nl"))
    )
    right = (
        o.filter(F.col("o_orderkey") % 3 == 1)
        .groupBy(grp.alias("grp_r"))
        .agg(F.count(F.lit(1)).alias("nr"))
    )
    joined = left.join(right, F.col("grp").eqNullSafe(F.col("grp_r")))
    return joined.select(
        F.coalesce(F.col("grp").cast("string"), F.lit("null")).alias(
            "grp_str"
        ),
        (F.col("nl") * F.col("nr")).cast("bigint").alias("n_pairs"),
    )


@query(
    "g1c_union_missing_cols",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS name,
           CAST(n_regionkey AS BIGINT) AS extra
    FROM nation
    UNION ALL
    SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS name,
           NULL AS extra
    FROM region
    """,
)
def g1c_union_missing_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 variant: ``unionByName(allowMissingColumns=True)`` — schema-
    evolving append where the older leg lacks a column and gets NULL;
    matching is BY NAME (positional union of evolving extracts is the
    classic silent-corruption bug this exists to prevent)."""
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").cast("long").alias("extra"),
    )
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("k"),
        F.col("r_name").alias("name"),
    )
    return n.unionByName(r, allowMissingColumns=True)


@query(
    "e3b_interval_frame",
    oracle="""
    SELECT user_id, event_id, CAST(ts AS VARCHAR) AS ts_str,
           COUNT(*) OVER w AS n_last_hour,
           SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) OVER w / 1000000.0
             AS value_last_hour
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def e3b_interval_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 variant: time-interval RANGE frame — per-user trailing-hour
    event count and value total at every event, the window-native form
    of a sliding aggregate (no self-join, no bucket explode; one sort
    per partition key). The frame bound is an INTERVAL, so rows enter/
    leave by timestamp distance, not row position; sums ride the 1e-6
    fixed-point grid for cross-engine exactness."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.col("ts").cast("string").alias("ts_str"),
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        (F.sum(F.floor(F.col("value") * 1_000_000)).over(w) / 1_000_000.0).alias(
            "value_last_hour"
        ),
    )


@query(
    "d10_bitwise_agg",
    oracle="""
    SELECT o_orderstatus,
           BIT_OR(o_orderkey) AS key_or,
           BIT_AND(o_orderkey) AS key_and,
           BIT_XOR(o_orderkey) AS key_xor
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def d10_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 (added): bitwise OR/AND/XOR aggregates — flag-mask folding
    (permission sets, feature bitmaps) and XOR-parity checksums; fully
    associative+commutative, so they partial-aggregate map-side like
    sum and never care about row order."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_xor("o_orderkey").alias("key_xor"),
    )


@query(
    "c10_null_aware_anti",
    oracle="""
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE o_orderkey < 30000
      AND CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderpriority END
          NOT IN (SELECT DISTINCT o_orderpriority FROM orders
                  WHERE o_orderpriority LIKE '%URGENT%'
                     OR o_orderpriority LIKE '1%')
    """,
)
def c10_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 (added): null-aware anti join — SQL ``NOT IN (subquery)``
    with a NULLABLE probe column, which is NOT the left-anti join of
    c3: under three-valued logic a NULL probe yields NULL (row
    dropped), not TRUE the way a hash anti-join's "no match" would —
    and a NULL in the build side would empty the result entirely.
    Spark plans this as a BroadcastHashJoin LeftAnti with
    isNullAware=true (visible as the trailing ``true`` in
    HashedRelationBroadcastMode) precisely because plain hash anti-join
    semantics silently differ; going through the SQL surface
    guarantees the real operator is exercised rather than a hand-rolled
    approximation. The build side must be broadcastable; at 100 TB you
    rewrite as NOT EXISTS (c3) unless the semantics genuinely need
    three-valued NULL handling — that rewrite-or-pay choice is the
    point this query documents."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("t_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderpriority
        FROM t_orders
        WHERE o_orderkey < 30000
          AND CASE WHEN o_orderkey % 11 = 0 THEN NULL
                   ELSE o_orderpriority END
              NOT IN (SELECT DISTINCT o_orderpriority FROM t_orders
                      WHERE o_orderpriority LIKE '%URGENT%'
                         OR o_orderpriority LIKE '1%')
        """
    )


@query(
    "pareto_abc",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(38,2))) AS r
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT SUM(r) AS t FROM rev
    ), ranked AS (
      SELECT l_partkey,
             CAST(r AS DOUBLE) AS revenue,
             CAST(SUM(r) OVER (ORDER BY r DESC, l_partkey
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(t AS DOUBLE) AS cum_share
      FROM rev, tot
    )
    SELECT l_partkey, revenue,
           ROUND(cum_share, 6) AS cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: parts ranked by revenue with cumulative
    revenue share, classed A (first 80% of spend), B (to 95%), C (tail)
    — the inventory-prioritization report every warehouse runs.

    Exactness: per-part revenue and the RUNNING total are DECIMAL(38,2)
    (exact at any row count), so the cumulative share is one exact-
    decimal-to-double division per row — same value both engines; the
    class boundaries compare that deterministic double. (revenue DESC,
    partkey) is a total order. The running sum is a single-partition
    window over the AGGREGATED per-part rows (|parts| << |lineitem|) —
    at 100 TB do it range-partitioned (global_shuffle's two-phase rank
    pattern) instead of one partition.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)")).alias("r")
    )
    tot = rev.agg(F.sum("r").alias("t"))
    w = Window.orderBy(F.desc("r"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        F.col("r").cast("double").alias("revenue"),
        (F.sum("r").over(w).cast("double") / F.col("t").cast("double")).alias(
            "cum_share"
        ),
    )
    return ranked.select(
        "l_partkey",
        "revenue",
        F.round("cum_share", 6).alias("cum_share"),
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "tpch_q4_exists",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analogue: order-priority checking — orders in a window
    with at least one lineitem shipped >30 days after the order date
    (correlated EXISTS -> LEFT SEMI join with a compound condition that
    references both sides).

    Scale: the semi join shuffles on orderkey only for orders surviving
    the pushed date-range filter; the lineitem side carries just
    (l_orderkey, l_shipdate) through the exchange (column pruning), and
    semi-join semantics stop probing an order at its first match.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


@query(
    "tpch_q14_promo_share",
    oracle="""
    SELECT
      CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
             THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END
             AS DECIMAL(38,4))) AS DOUBLE) AS promo_revenue,
      CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
             AS DECIMAL(38,4))) AS DOUBLE) AS total_revenue,
      100.0 * CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
             THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END
             AS DECIMAL(38,4))) AS DOUBLE)
            / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
             AS DECIMAL(38,4))) AS DOUBLE) AS promo_share_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-02-01'
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analogue: promotion revenue share for one ship month —
    conditional money aggregation across a fact-dim join.

    Determinism: both revenue legs are exact DECIMAL(38,4) sums cast
    once to double (functions/canonical.py); the share is then two IEEE
    ops (multiply, divide) in pinned order — no ROUND, no tie to break.
    Scale: part is the broadcast side; the shipdate range filter is
    pushed to the lineitem scan so one month crosses the join, not the
    whole fact table.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = j.agg(
        dec_sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0), 4).alias(
            "promo_revenue"
        ),
        dec_sum(rev, 4).alias("total_revenue"),
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        (
            F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")
        ).alias("promo_share_pct"),
    )


@query(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(38,4))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analogue: discounted revenue under an OR-of-ANDs
    predicate spanning both join sides — the disjunctive-pushdown
    stress test.

    Catalyst's CNF conversion extracts the single-side implications
    (p_brand/p_size disjunction -> part scan, l_quantity range union ->
    lineitem scan) so BOTH scans are pre-filtered before the join and
    the full residual disjunction is re-checked after it — asserted in
    tests/test_plans.py. At 100 TB that pre-filter is the difference
    between joining three brands' parts and joining the whole catalog.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )

    def leg(brand: str, size_hi: int, q_lo: int, q_hi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    cond = (
        leg("Brand#3", 15, 1, 11)
        | leg("Brand#12", 25, 10, 20)
        | leg("Brand#21", 35, 20, 30)
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).filter(cond)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum(rev, 4).alias("revenue"),
    )


@query(
    "tpch_q13_custdist",
    oracle="""
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    """,
)
def tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analogue: customer order-count distribution — how many
    customers placed exactly N non-urgent orders, INCLUDING N=0.

    The zero bucket is the point of the query: the priority predicate
    must live in the LEFT JOIN's ON clause, not a WHERE after it — a
    WHERE would silently drop never-ordered customers (outer-join
    filter-placement trap), and COUNT(o_orderkey) (non-null only) is
    what turns an unmatched customer into n_orders = 0 instead of 1.

    Scale: first agg shuffles on c_custkey (orders side pre-filtered at
    the scan, carrying only o_custkey/o_orderkey through the exchange);
    the second agg's key space is |distinct order counts| — tiny — so
    its shuffle is a few hundred rows of partial counts per executor.
    Both counts are exact integers: hash-stable in any row order.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "tpch_q17_small_qty",
    oracle="""
    WITH pa AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem
      GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_small,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS BIGINT) * 5 * pa.cnt < pa.sum_qty
    """,
)
def tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 analogue: small-quantity-order revenue — lineitems of
    one brand whose quantity is below 20% of that part's average
    quantity (correlated scalar-AVG subquery, rewritten as a per-part
    aggregate joined back to the fact — the shape Catalyst itself
    produces for a correlated scalar subquery).

    Exactness: the threshold compare is done in integers on BOTH
    engines — ``qty * 5 * cnt < sum_qty`` is literally ``qty < 0.2 *
    avg`` with the division cleared (quantities are integral, verified
    in-repo), so no float boundary can flip a row cross-engine. Revenue
    is an exact DECIMAL(38,2) sum; /7.0 is one IEEE division.

    Scale: the per-part agg shuffles (l_partkey, qty) only — two bigint
    partials per part after map-side combine; the join back to lineitem
    reuses the same key so AQE can plan it without a second full fact
    exchange; the brand dim filter broadcasts. The alternative —
    windowing AVG over the fact — shuffles the full fact width instead.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#3"
    ).select("p_partkey")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa.withColumnRenamed("l_partkey", "pa_partkey"),
              F.col("l_partkey") == F.col("pa_partkey"))
        .filter(
            F.col("l_quantity").cast("bigint") * 5 * F.col("cnt")
            < F.col("sum_qty")
        )
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_small"),
        (dec_sum(F.col("l_extendedprice"), 2) / 7.0).alias("avg_yearly"),
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 300
    )
    SELECT c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS VARCHAR) AS orderdate,
           CAST(CAST(o.o_totalprice AS DECIMAL(38,2)) AS DOUBLE)
             AS totalprice,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM orders o
    JOIN big ON big.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 analogue: large-volume orders — orders whose total
    quantity exceeds 300, with their customer (GROUP-BY + HAVING as a
    semi-join filter, then re-aggregation over the joined fact).

    Scale: the HAVING subquery reduces lineitem to qualifying orderkeys
    BEFORE any wide join — at sf0.01 that's ~40 keys out of 15k orders,
    and the selectivity IMPROVES with scale (the threshold is a fixed
    physical quantity). The orderkey list then drives semi-join-style
    pruning of orders; customer joins after the fact is already tiny.
    Quantity sums are exact BIGINTs; o_totalprice crosses as one
    DECIMAL(38,2)->double cast; o_orderdate crosses as a string
    (timestamp canonicalization rule).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
        .select("l_orderkey", "sum_qty")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big.withColumnRenamed("l_orderkey", "big_orderkey"),
               F.col("o_orderkey") == F.col("big_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("string").alias("orderdate"),
            F.col("o_totalprice").cast("decimal(38,2)").cast("double")
            .alias("totalprice"),
            "sum_qty",
        )
    )


@query(
    "tpch_q2_min_cost",
    oracle="""
    WITH scoped AS (
      SELECT l.l_partkey, l.l_suppkey,
             CAST(l.l_extendedprice AS DECIMAL(38,2)) AS price
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_regionkey = 0
    ),
    m AS (
      SELECT l_partkey, MIN(price) AS min_price
      FROM scoped GROUP BY l_partkey
    ),
    win AS (
      SELECT sc.l_partkey AS p_partkey,
             MIN(sc.l_suppkey) AS s_suppkey,
             CAST(m.min_price AS DOUBLE) AS min_price
      FROM scoped sc
      JOIN m ON m.l_partkey = sc.l_partkey AND sc.price = m.min_price
      JOIN part p ON p.p_partkey = sc.l_partkey AND p.p_size = 15
      GROUP BY sc.l_partkey, m.min_price
    )
    SELECT w.p_partkey, w.s_suppkey, s.s_name, w.min_price
    FROM win w JOIN supplier s ON s.s_suppkey = w.s_suppkey
    """,
)
def tpch_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analogue: minimum-cost supplier — for each size-15 part,
    the region-0 supplier offering the lowest observed price (correlated
    MIN subquery, rewritten as agg + equality join-back; ties broken by
    lowest suppkey so the answer is a function of the data, not the
    plan).

    The lineitem side is pre-restricted to region-0 suppliers by a
    broadcast semi-shape join (|supplier| << |fact|), so the per-part
    MIN aggregates only in-region rows — the correlation scope of the
    original subquery. Prices compare as exact DECIMAL(38,2): no float
    boundary in either the MIN or the join-back equality.

    Scale: agg + join-back on the same key (l_partkey) lets AQE reuse
    the exchange rather than re-shuffling the fact; the window-function
    alternative (rank over partkey ordered by price) shuffles the same
    data once but cannot map-side-combine, so the agg form moves less.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_regionkey") == 0
    )
    region_supp = sup.join(
        F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
    ).select("s_suppkey")
    scoped = li.join(
        F.broadcast(region_supp), li.l_suppkey == F.col("s_suppkey")
    ).select(
        "l_partkey",
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(38,2)").alias("price"),
    )
    m = scoped.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("price").alias("min_price")
    )
    p15 = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") == 15
    ).select("p_partkey")
    win = (
        scoped.join(
            m,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("price") == F.col("min_price")),
        )
        .join(F.broadcast(p15), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_partkey", "min_price")
        .agg(F.min("l_suppkey").alias("s_suppkey"))
    )
    names = sup.select(F.col("s_suppkey").alias("ns_suppkey"), "s_name")
    return win.join(
        F.broadcast(names), F.col("s_suppkey") == F.col("ns_suppkey")
    ).select(
        "p_partkey",
        "s_suppkey",
        "s_name",
        F.col("min_price").cast("double").alias("min_price"),
    )


@query(
    "tpch_q21_waiting",
    oracle="""
    WITH ps AS (
      SELECT l.l_orderkey, l.l_suppkey,
             SUM(CASE WHEN l.l_shipdate > o.o_orderdate
                           + INTERVAL 1400 DAY
                      THEN 1 ELSE 0 END) AS n_late_lines
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey
    ),
    po AS (
      SELECT l_orderkey,
             COUNT(*) AS n_supps,
             SUM(CASE WHEN n_late_lines > 0 THEN 1 ELSE 0 END)
               AS n_late_supps
      FROM ps GROUP BY l_orderkey
    )
    SELECT s.s_name,
           CAST(SUM(ps.n_late_lines) AS BIGINT) AS numwait
    FROM ps
    JOIN po ON po.l_orderkey = ps.l_orderkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.n_late_lines > 0 AND po.n_supps >= 2
      AND po.n_late_supps = 1
    GROUP BY s.s_name
    """,
)
def tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analogue: suppliers who kept orders waiting — late
    lines (shipped >1400 days after ordering, the ~p90 lag in this
    corpus) in finished multi-supplier orders where NO OTHER supplier
    was late.

    The reference formulation is EXISTS + NOT EXISTS against the same
    fact; the distributed rewrite aggregates the fact ONCE to per-
    (order, supplier) late-line counts, then both quantifiers become
    scalar predicates on a per-order rollup of that aggregate:
    EXISTS(other supplier) <=> n_supps >= 2; NOT EXISTS(other late
    supplier) <=> n_late_supps = 1 (the row's own supplier is late, so
    it is the one). numwait sums the surviving n_late_lines — the same
    count the row-level EXISTS form produces.

    Scale: the fact is scanned and aggregated exactly once; the
    join-back runs on the (order, supplier) aggregate (|ps| <=
    |lineitem| / lines-per-supplier-per-order), not on fact rows. A
    two-level agg (not COUNT DISTINCT) keeps the plan Expand-free, and
    the rollup's and the join's l_orderkey exchanges over ps are
    identical, so Catalyst reuses one shuffle (plan-asserted:
    ReusedExchange in tests/test_plans.py). Counts are exact integers.
    """
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    ps = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 1400 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("n_late_lines")
        )
    )
    po = ps.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum(
            F.when(F.col("n_late_lines") > 0, 1).otherwise(0)
        ).alias("n_late_supps"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        ps.join(po, F.col("l_orderkey") == F.col("po_orderkey"))
        .filter(
            (F.col("n_late_lines") > 0)
            & (F.col("n_supps") >= 2)
            & (F.col("n_late_supps") == 1)
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_lines").cast("bigint").alias("numwait"))
    )


@query(
    "tpch_q22_idle_customers",
    oracle="""
    WITH pos AS (
      SELECT CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(38,2)) * 100
                           AS BIGINT)) AS BIGINT) AS tot_cents,
             COUNT(*) AS cnt
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT SUBSTR(c.c_name, 18, 1) AS cust_digit,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(38,2))) AS DOUBLE)
             AS total_acctbal
    FROM customer c, pos
    WHERE SUBSTR(c.c_name, 18, 1) IN ('1','3','5','7','9')
      AND CAST(CAST(c.c_acctbal AS DECIMAL(38,2)) * 100 AS BIGINT)
            * pos.cnt > pos.tot_cents
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY SUBSTR(c.c_name, 18, 1)
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analogue: above-average-balance customers with no
    urgent orders, bucketed by name digit — a global scalar subquery
    (AVG over positive balances) feeding a filter, plus a NOT EXISTS
    anti join.

    Exactness: ``bal > avg`` is cleared of its division — compare
    ``bal_cents * cnt > tot_cents`` in exact BIGINTs on both engines
    (cents via ``cents_grid``, so no binary-double *100 artifact).
    At 1e8 customers the product is ~1e14 — well inside int64.

    Scale: the scalar aggregate is one row broadcast to every task; the
    anti join shuffles only (custkey) pairs of the pre-filtered urgent
    orders; the name-digit bucket is a scan-side expression. Nothing
    here grows superlinearly with customers.
    """
    c = load_table(spark, sf_dir, "customer")
    bal_cents = cents_grid(F.col("c_acctbal"), 2)
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_cents).alias("tot_cents"),
        F.count(F.lit(1)).alias("cnt"),
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    digit = F.substring(F.col("c_name"), 18, 1)
    eligible = (
        c.filter(digit.isin("1", "3", "5", "7", "9"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .crossJoin(F.broadcast(pos))
        .filter(bal_cents * F.col("cnt") > F.col("tot_cents"))
    )
    return eligible.groupBy(digit.alias("cust_digit")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        dec_sum(F.col("c_acctbal"), 2).alias("total_acctbal"),
    )


@query(
    "tpch_q7_volume",
    oracle="""
    WITH j AS (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l.l_shipdate) AS INT) AS l_year,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(38,4)) AS vol
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    )
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(vol) AS DOUBLE) AS revenue
    FROM j GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analogue: shipping volume between a nation pair, by
    direction and ship year — the two-role dimension pattern (nation
    joins the fact twice, once through supplier and once through
    customer) under a symmetric disjunction.

    Scale: the pair predicate's single-side implications (each nation
    column IN the two names) are applied to the two nation dims BEFORE
    broadcast, so each dim ships 2 rows and the fact is filtered at the
    join instead of after a full cross-nation join; only the residual
    "no same-nation pairs" disjunction remains post-join. Supplier and
    customer broadcast; the only fact-scale shuffle is lineitem-orders.
    Revenue is the exact DECIMAL(38,4) discipline.
    """
    pair = ("NATION_1", "NATION_2")
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)
    )
    n1 = nat.select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    ).join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount",
    )
    j = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == pair[0])
                & (F.col("cust_nation") == pair[1])
            )
            | (
                (F.col("supp_nation") == pair[1])
                & (F.col("cust_nation") == pair[0])
            )
        )
    )
    return j.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(
        dec_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
        ).alias("revenue")
    )


@query(
    "tpch_q11_important_stock",
    oracle="""
    WITH scoped AS (
      SELECT l.l_partkey, CAST(l.l_extendedprice AS DECIMAL(38,2)) AS v
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_suppkey % 2 = 0
    ),
    pv AS (
      SELECT l_partkey,
             CAST(SUM(v) * 100 AS BIGINT) AS pval_cents
      FROM scoped GROUP BY l_partkey
    ),
    tot AS (
      SELECT CAST(SUM(pval_cents) AS BIGINT) AS tot_cents,
             COUNT(*) AS n_parts
      FROM pv
    )
    SELECT l_partkey,
           CAST(pval_cents AS DOUBLE) / 100.0 AS stock_value
    FROM pv CROSS JOIN tot
    WHERE 2 * pval_cents * n_parts > 3 * tot_cents
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analogue: important stock — parts whose scoped
    (even-suppkey suppliers) inventory value exceeds 1.5x the mean
    part value (GROUP BY with a HAVING that references scalar
    subqueries over the SAME aggregate).

    TPC-H's fixed-fraction threshold (0.0001/SF) must be rescaled per
    SF by the spec itself; a mean-relative threshold is the
    scale-invariant equivalent and keeps the result non-degenerate at
    every sf in this corpus (9 / 107 / 1063 rows at sf0.001/0.01/0.1).

    Exactness: per-part values are exact BIGINT cent sums
    (``cents_grid``); the 1.5x-mean test is the cleared
    integer compare ``2 * pval * n_parts > 3 * tot`` — no division, no
    float boundary. The *n_parts product can approach int64 at extreme
    scale; swap to DECIMAL(38,2) arithmetic then, same plan shape.

    Scale: the supplier scope rides a broadcast dim into the fact scan;
    one shuffle produces the per-part aggregate; total and count come
    from a second pass over that AGGREGATE (never the fact) and return
    as a one-row broadcast.
    """
    sup = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 2 == 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    scoped = li.join(
        F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
    )
    pv = scoped.groupBy("l_partkey").agg(
        F.sum(cents_grid(F.col("l_extendedprice"), 2)).alias("pval_cents")
    )
    tot = pv.agg(
        F.sum("pval_cents").alias("tot_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            2 * F.col("pval_cents") * F.col("n_parts")
            > 3 * F.col("tot_cents")
        )
        .select(
            "l_partkey",
            (F.col("pval_cents").cast("double") / 100.0).alias(
                "stock_value"
            ),
        )
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(38,4))) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    ),
    mx AS (SELECT MAX(r) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, CAST(rev.r AS DOUBLE) AS total_revenue
    FROM rev
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey, mx
    WHERE rev.r = mx.m
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 analogue: top supplier — the supplier(s) whose quarter
    revenue EQUALS the global maximum (the view + scalar-MAX pattern;
    returns all ties rather than an arbitrary top-1, so the answer is a
    function of the data).

    Exactness: revenue is an exact DECIMAL(38,4) sum, so the equality
    against MAX is exact decimal identity — the one formulation of
    argmax that cannot be flipped by accumulation order. Scale: one
    fact shuffle on l_suppkey (date filter pushed to the scan), then a
    one-row MAX broadcast back over the per-supplier aggregate; the
    supplier dim broadcasts for the name. No global sort anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        # explicit, though vacuous: the downstream supplier join infers
        # isnotnull(l_suppkey) on ONE branch of the rev subplan; stating
        # it here keeps both branches' exchange subtrees identical so
        # AQE reuse collapses them to a single fact scan
        & F.col("l_suppkey").isNotNull()
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(38,4)"
            )
        ).alias("r")
    )
    mx = rev.agg(F.max("r").alias("m"))
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("r") == F.col("m"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("r").cast("double").alias("total_revenue"),
        )
    )


@query(
    "tpch_q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 9, 13, 17)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p.p_brand, p.p_size
    """,
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analogue: parts/supplier relationship count — distinct
    suppliers able to supply each (brand, size) combination, excluding
    an unwanted-supplier set via NOT IN (anti join; s_suppkey is
    non-null so the null-aware BNLJ degeneration of NOT IN — see
    c10_null_aware_anti — cannot trigger here, and the plan stays a
    hash anti join).

    Scale: the exclusion set (negative-balance suppliers) broadcasts to
    an anti join BEFORE the part join, so excluded suppliers' lines
    never cross a shuffle; the brand/size predicates push into the part
    scan and ride its broadcast. The distinct count shuffles (brand,
    size, suppkey) once — bounded by |parts| x |suppliers|, not fact
    rows, after map-side dedup.
    """
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0.0
    ).select("s_suppkey")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17)
    ).select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        li.join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    WITH vol AS (
      SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(38,4)) AS v,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation nc ON nc.n_nationkey = c.c_nationkey
                    AND nc.n_regionkey = 0
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN v
                         ELSE 0 END) AS DOUBLE)
             / CAST(SUM(v) AS DOUBLE) AS mkt_share,
           CAST(SUM(v) AS DOUBLE) AS total_volume
    FROM vol GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 analogue: national market share — NATION_3 suppliers'
    slice of ECONOMY-part revenue sold to region-0 customers, per order
    year (a share-within-group over a 6-way snowflake join where
    nation plays BOTH roles: region filter through the customer leg,
    share label through the supplier leg).

    Exactness: numerator and denominator are exact DECIMAL(38,4) sums;
    the share is one IEEE division (q14's discipline, here per group).
    Scale: part (type-filtered), customer+nation (region-pruned), and
    supplier+nation all broadcast; the only fact-scale shuffle is
    lineitem-orders.  The region predicate prunes the CUSTOMER dim
    before broadcast, so non-region rows die at the join, not after.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    nc = load_table(spark, sf_dir, "nation").filter(
        F.col("n_regionkey") == 0
    ).select(F.col("n_nationkey").alias("nc_key"))
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    ).join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
    ns = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
    )
    v = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,4)"
    )
    agg = j.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", v).otherwise(
                F.lit(0).cast("decimal(38,4)")
            )
        ).alias("num"),
        F.sum(v).alias("den"),
    )
    return agg.select(
        "o_year",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "mkt_share"
        ),
        F.col("den").cast("double").alias("total_volume"),
    )


@query(
    "tpch_q9_profit",
    oracle="""
    WITH j AS (
      SELECT ns.n_name AS supp_nation,
             CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(38,4)) AS rev,
             CAST(p.p_retailprice * 0.1 * l.l_quantity
                  AS DECIMAL(38,3)) AS cost
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
                 AND p.p_name LIKE '%gear%'
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation ns ON ns.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT supp_nation, o_year,
           CAST(SUM(rev) AS DOUBLE) - CAST(SUM(cost) AS DOUBLE)
             AS profit
    FROM j GROUP BY supp_nation, o_year
    """,
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 analogue: product-type profit by supplier nation and
    year.  The spec's ps_supplycost has no table in this corpus, so
    cost is modeled as 10% of retail price per unit — the operator
    shape (name-pattern dim filter, two money expressions with
    DIFFERENT exact scales, profit = revenue minus cost) is what's
    exercised, not the constant.

    Exactness: revenue sums exactly at DECIMAL(38,4); cost at
    DECIMAL(38,3) (2-dec retail x 0.1 x integral qty is exact on the
    1e-3 grid); each casts once to double and the profit is ONE
    subtraction of those two exact doubles.  Scale: the LIKE-filtered
    part dim broadcasts; lineitem-orders is the only fact shuffle —
    same skeleton as q8, different aggregate discipline.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%gear%")
    ).select("p_partkey", "p_retailprice")
    ns = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"),
        F.col("n_name").alias("supp_nation"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    ).join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    j = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,4)"
    )
    cost = (
        F.col("p_retailprice") * 0.1 * F.col("l_quantity")
    ).cast("decimal(38,3)")
    return (
        j.groupBy(
            "supp_nation",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(rev).alias("r"), F.sum(cost).alias("c"))
        .select(
            "supp_nation",
            "o_year",
            (F.col("r").cast("double") - F.col("c").cast("double")).alias(
                "profit"
            ),
        )
    )


@query(
    "tpch_q10_returned_topk",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(CAST(c.c_acctbal AS DECIMAL(38,2)) AS DOUBLE) AS acctbal,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(38,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
     AND o.o_orderdate >= TIMESTAMP '1996-01-01'
     AND o.o_orderdate < TIMESTAMP '1996-04-01'
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(38,4))) DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analogue: top-20 customers by RETURNED revenue in one
    quarter — the classic "who's sending product back" report (filtered
    fact, quarter-pruned orders, customer+nation dims, exact-decimal
    ordered top-k with a custkey tiebreak so ties can't reorder).

    Scale: the returnflag filter is pushed to the lineitem scan and the
    quarter filter to the orders scan BEFORE their join; customer and
    nation broadcast onto the per-customer aggregate.  The top-20 is
    ordered on the exact DECIMAL revenue (not the double), then cast
    for output — the sort key is exact, so rank is deterministic; the
    limit compiles to TakeOrderedAndProject (distributed top-k, no
    global sort).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,4)"
    )
    agg = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(rev).alias("rev_dec"))
    )
    return (
        agg.orderBy(F.desc("rev_dec"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("c_acctbal").cast("decimal(38,2)").cast("double").alias(
                "acctbal"
            ),
            F.col("rev_dec").cast("double").alias("revenue"),
        )
    )


@query(
    "tpch_q12_priority_lines",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY l.l_returnflag
    """,
)
def tpch_q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 analogue: priority mix of slowly-shipped lines — per
    return flag (standing in for the spec's ship mode, absent from this
    corpus), how many >90-day-lag lines belong to urgent/high vs other
    orders.  The two-sided-predicate join + complementary conditional
    counts shape.

    Scale: the join shuffles on orderkey with only (returnflag,
    shipdate) riding the fact side; the lag predicate references both
    sides so it evaluates at the join (not pushable) — the counts are
    map-side-combinable integers after it.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


@query(
    "tpch_q20_excess_share",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    pt AS (
      SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS t
      FROM ps GROUP BY l_partkey
    ),
    excess AS (
      SELECT DISTINCT ps.l_suppkey
      FROM ps JOIN pt ON pt.l_partkey = ps.l_partkey
      WHERE 8 * ps.q > pt.t
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    JOIN excess e ON e.l_suppkey = s.s_suppkey
    WHERE s.s_nationkey < 5
    """,
)
def tpch_q20_excess_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analogue: suppliers dominating a part's supply — the
    nested-IN chain (suppliers IN (... parts ...)) rewritten as
    aggregate -> rollup -> DISTINCT semi probe, finding nation-0..4
    suppliers that shipped more than an EIGHTH of some part's total quantity
    (the spec's excess-stock predicate with the availqty table absent;
    1/8 keeps the result non-degenerate at every sf: 1/15/65 suppliers
    at sf0.001/0.01/0.1 vs zero for a half-share test on this corpus).

    Exactness: quantity sums and the share test (``8q > t``) are exact
    BIGINTs.  Scale: the fact aggregates once to (part, supplier); the
    part rollup reuses the same rows (q21's ReusedExchange pattern
    applies: both consumers hash on the aggregate's keys); the final
    probe is a semi-shaped join onto the 100-row supplier dim.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    ).filter(
        # vacuous (keys are non-null) but keeps the two consumers of ps
        # byte-identical below their exchanges — the downstream joins
        # infer isnotnull on ONE branch only otherwise, which blocks
        # AQE exchange reuse (same fix as tpch_q15)
        F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull()
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("q")
    )
    pt = ps.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(
        F.sum("q").cast("bigint").alias("t")
    )
    excess = (
        ps.join(pt, F.col("l_partkey") == F.col("pt_partkey"))
        .filter(8 * F.col("q") > F.col("t"))
        .select("l_suppkey")
        .distinct()
    )
    sup = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") < 5
    ).select("s_suppkey", "s_name")
    return sup.join(
        excess, F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_suppkey", "s_name")
