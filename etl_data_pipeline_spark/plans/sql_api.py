"""Spark SQL entry point (SURVEY.md §3 EP2) + scale patterns that only
show up at cluster data volumes: subquery decorrelation, skew-salted
joins, and bucketed (shuffle-free) joins.

These queries register temp views and go through the ANTLR SQL parser —
the same analyzed/optimized/physical pipeline as the DataFrame API, which
the oracle parity proves.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.functions.canonical import dec_sum
from etl_data_pipeline_spark.materialize import materialize
from etl_data_pipeline_spark.plans.registry import query

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch", "tables"
)


def _tag(sf_dir: str) -> str:
    """Suffix of this corpus's views and write-once scratch tables: the
    sf dir's leaf plus a digest of its real path, so two corpora whose
    dirs share a leaf name never read each other's written copies."""
    leaf = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    digest = hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()[:8]
    return f"{leaf}_{digest}"


def _view(spark: SparkSession, sf_dir: str, name: str) -> None:
    load_table(spark, sf_dir, name).createOrReplaceTempView(f"{name}_{_tag(sf_dir)}")


@query(
    "sql_q6_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def sql_q6_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2: pure SQL text through spark.sql (TPC-H Q6 shape) — scan with
    three pushable predicates + global agg, no shuffle beyond the final
    single-row exchange."""
    _view(spark, sf_dir, "lineitem")
    t = _tag(sf_dir)
    return spark.sql(f"""
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,4)))
                    AS DOUBLE) AS revenue
        FROM lineitem_{t}
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1996-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """)


@query(
    "sql_correlated_subquery",
    oracle="""
    SELECT p.p_partkey, p.p_brand, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice < 0.5 * (
      SELECT AVG(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand
    )
    """,
)
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2: correlated scalar subquery — Catalyst decorrelates it into an
    aggregate + join (SURVEY §4), so the 100 TB plan is a single
    re-usable per-brand aggregate, not a subquery per row."""
    _view(spark, sf_dir, "part")
    t = _tag(sf_dir)
    return spark.sql(f"""
        SELECT p.p_partkey, p.p_brand, p.p_retailprice
        FROM part_{t} p
        WHERE p.p_retailprice < 0.5 * (
          SELECT AVG(p2.p_retailprice) FROM part_{t} p2
          WHERE p2.p_brand = p.p_brand
        )
    """)


@query(
    "sql_exists_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
    )
    GROUP BY o_orderpriority
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2: EXISTS subquery (TPC-H Q4 shape) — rewritten by Catalyst to a
    left-semi join; the semi join never materializes lineitem columns."""
    _view(spark, sf_dir, "orders")
    _view(spark, sf_dir, "lineitem")
    t = _tag(sf_dir)
    return spark.sql(f"""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders_{t} o
        WHERE EXISTS (
          SELECT 1 FROM lineitem_{t} l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
        GROUP BY o_orderpriority
    """)


@query(
    "skew_salted_join",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_orderstatus
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: the fact side's key is salted (deterministic
    ``l_linenumber % SALT``) and the other side replicated SALT-fold, so
    one hot key spreads over SALT reducers instead of stalling one.

    The oracle is the PLAIN join — salting must be result-invariant.
    AQE's skewJoin handles moderate skew automatically; explicit salting
    is the tool when a single key exceeds what one task can hold.
    """
    salt_n = 4
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    salted_li = li.withColumn("salt", F.col("l_linenumber") % salt_n)
    replicated_o = o.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    ).withColumn("salt", F.col("salt").cast("int"))
    salted_li = salted_li.withColumn("salt", F.col("salt").cast("int"))
    return salted_li.join(
        replicated_o,
        (salted_li.l_orderkey == replicated_o.o_orderkey)
        & (salted_li.salt == replicated_o.salt),
    ).select("l_orderkey", "l_linenumber", "l_quantity", "o_orderstatus")


@query(
    "bucketed_join",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both tables written bucketed by the join
    key, so the sort-merge join runs with NO exchange on either side —
    the shuffle cost is paid once at write time and amortized over every
    later join (the 100 TB answer for repeatedly-joined fact tables).
    tests/test_plans.py asserts the exchange-free plan.
    """
    t = _tag(sf_dir)
    li_name, o_name = f"li_bkt_{t}", f"o_bkt_{t}"
    base = os.path.join(_SCRATCH, t)
    if not spark.catalog.tableExists(li_name):
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        (
            li.write.mode("overwrite")
            .option("path", os.path.join(base, li_name))
            .bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .format("parquet")
            .saveAsTable(li_name)
        )
    if not spark.catalog.tableExists(o_name):
        o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
        (
            o.write.mode("overwrite")
            .option("path", os.path.join(base, o_name))
            .bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .format("parquet")
            .saveAsTable(o_name)
        )
    li_b = spark.table(li_name)
    o_b = spark.table(o_name)
    joined = li_b.join(o_b, li_b.l_orderkey == o_b.o_orderkey)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum(F.col("l_extendedprice"), 2).alias("total"),
    )


@query(
    "sql_nested_agg_subquery",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def sql_nested_agg_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2: nested aggregate in a correlated predicate (TPC-H Q17 shape)
    — Catalyst decorrelates to a per-partkey aggregate joined back, so
    lineitem is scanned twice but never per-row (avg over integer-valued
    quantities is exact, so the threshold comparison is deterministic)."""
    _view(spark, sf_dir, "lineitem")
    _view(spark, sf_dir, "part")
    t = _tag(sf_dir)
    return spark.sql(f"""
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) / 7.0
                 AS avg_yearly
        FROM lineitem_{t} l JOIN part_{t} p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem_{t} l2
            WHERE l2.l_partkey = l.l_partkey
          )
    """)


@query(
    "c4b_shuffle_hash_hint",
    oracle="""
    SELECT o.o_orderstatus, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def c4b_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 extension: SHUFFLE_HASH join hint — when the smaller side fits
    an executor's memory but exceeds the broadcast threshold, a shuffled
    hash join skips BOTH sort passes of SMJ (the mid-size-dimension
    sweet spot at cluster scale). Result-invariant; the oracle is the
    plain join."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = li.join(o.hint("shuffle_hash"), li.l_orderkey == o.o_orderkey)
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum(F.col("l_quantity"), 2).alias("total_qty"),
    )


@query(
    "dpp_partition_pruned_join",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS ym,
           o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
    FROM orders
    WHERE STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m')
          IN ('1995-01', '1995-02', '1996-06')
    GROUP BY 1, 2
    """,
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out partitioned
    by month (``ym=YYYY-MM`` directories — the standard date-partitioned
    lake layout), and the query joins it to a small filtered dim of
    selected months. Catalyst inserts a runtime subquery filter on the
    PARTITION column, so only the 3 matching month directories are read
    — at 100 TB this is the difference between scanning 3 partitions and
    scanning ~80. tests/test_plans.py asserts the physical plan carries
    ``dynamicpruning``/PartitionFilters on the scan.

    The oracle is the equivalent plain filter+agg over orders (pruning
    must be result-invariant).
    """
    t = _tag(sf_dir)
    base = os.path.join(_SCRATCH, f"orders_bymonth_{t}")
    marker = os.path.join(base, "_SUCCESS")
    if not os.path.exists(marker):
        o = load_table(spark, sf_dir, "orders").withColumn(
            "ym", F.date_format("o_orderdate", "yyyy-MM")
        )
        o.write.mode("overwrite").partitionBy("ym").parquet(base)
    fact = spark.read.parquet(base)
    # A month-dim with a SELECTIVE FILTER on the build side — DPP's
    # pruning-benefit heuristic requires a filter predicate there (a bare
    # 3-row literal dim joins fine but does not trigger the runtime
    # subquery; verified against the physical plan).
    picked = {"1995-01", "1995-02", "1996-06"}
    rows = [
        (f"{y}-{m:02d}", 1 if f"{y}-{m:02d}" in picked else 0)
        for y in (1994, 1995, 1996, 1997)
        for m in range(1, 13)
    ]
    months = spark.createDataFrame(rows, ["ym", "pick"]).filter(
        F.col("pick") == 1
    ).select("ym")
    joined = fact.join(months, "ym")  # broadcast + DPP subquery on ym
    return joined.groupBy("ym", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum(F.col("o_totalprice"), 2).alias("total"),
    ).select(
        F.col("ym").alias("ym"),
        "o_orderpriority",
        "n_orders",
        "total",
    )


@query(
    "runtime_bloom_join",
    oracle="""
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
             AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderstatus
    """,
)
def runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join reduction — DPP's sibling for
    NON-partition columns: Catalyst builds a bloom filter from the
    filtered dim side's join keys at runtime and injects
    ``might_contain`` onto the fact scan, so most non-matching fact rows
    die at the scan instead of crossing the shuffle. At 100 TB with a
    selective dim filter this cuts the shuffled fact volume ~4x here
    (1 of 4 priorities) and more the more selective the filter.
    tests/test_plans.py asserts the injected filter; the bloom is
    result-invariant (false positives are removed by the exact join),
    which the plain-join oracle proves.

    The thresholds are session-scoped and restored: creation-side must
    admit the small local dim; the application-side scan-size floor is
    0 because local test files are far below the 10 GB cluster default.
    """
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey", "o_orderstatus")
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        out = joined.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum(F.col("l_extendedprice"), 2).alias("total"),
        )
        # Materialize ONCE under these confs (they are read at
        # analysis/optimization time) and persist the 3-row result, so the
        # caller's collect is served from cache instead of re-running the
        # whole join — previously every invocation executed twice.
        out = materialize(out)
        out.collect()
        return out
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    "sql_pipe_syntax",
    oracle="""
    WITH base AS (
      SELECT o_custkey, o_orderpriority, o_totalprice
      FROM orders
      WHERE o_orderstatus = 'O'
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value
    FROM base
    GROUP BY o_orderpriority
    ORDER BY n_orders DESC, o_orderpriority
    LIMIT 3
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP (Spark 4): SQL pipe syntax (`|>`) — the linear
    table-to-table form Spark 4.0 added (same operators, pipeline
    order instead of inside-out SQL). The plan is identical to the
    ANSI equivalent (Catalyst parses both into the same logical tree),
    which is exactly what the oracle asserts: a pushed filter, one
    map-side-combined agg, and a TopK sort.

    DECIMAL(18,2) exact money sums per the house rule; DuckDB has no
    pipe syntax, so the oracle is the desugared ANSI query.
    """
    _view(spark, sf_dir, "orders")
    t = _tag(sf_dir)
    return spark.sql(f"""
        FROM orders_{t}
        |> WHERE o_orderstatus = 'O'
        |> SELECT o_custkey, o_orderpriority, o_totalprice
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total_value
           GROUP BY o_orderpriority
        |> ORDER BY n_orders DESC, o_orderpriority
        |> LIMIT 3
    """)


@query(
    "sql_parameterized",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_balance
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    WHERE c_acctbal > 100.0 AND n_name LIKE 'NATION_1%'
    GROUP BY n_name
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP (Spark 3.4+): named-parameter SQL — ``spark.sql(query,
    args={...})`` binds values server-side as literals AFTER parsing,
    the injection-safe path for templated production queries (vs f-string
    splicing). Parameters cover a numeric threshold and a LIKE pattern;
    the oracle inlines the same constants.
    """
    _view(spark, sf_dir, "customer")
    _view(spark, sf_dir, "nation")
    t = _tag(sf_dir)
    return spark.sql(
        f"""
        SELECT n_name,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_balance
        FROM customer_{t} JOIN nation_{t} ON n_nationkey = c_nationkey
        WHERE c_acctbal > :min_bal AND n_name LIKE :pat
        GROUP BY n_name
        """,
        args={"min_bal": 100.0, "pat": "NATION_1%"},
    )


@query(
    "sql_variables",
    oracle="""
    WITH thr AS (
      SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        AS avg_price
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_above
    FROM orders CROSS JOIN thr
    WHERE o_totalprice > thr.avg_price
    GROUP BY o_orderpriority
    """,
)
def sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP (Spark 4): SQL session variables — DECLARE a variable, SET it
    from a scalar subquery (the corpus mean price), then use it as a
    filter constant in a later statement: the multi-statement scripting
    idiom (parameter tables without temp views). The exact-decimal AVG
    matches the oracle's inlined scalar subquery; the variable is
    session-scoped so the name carries the sf tag.
    """
    _view(spark, sf_dir, "orders")
    t = _tag(sf_dir)
    spark.sql(
        f"DECLARE OR REPLACE VARIABLE avg_price_{t} DOUBLE DEFAULT 0.0"
    )
    spark.sql(
        f"""SET VARIABLE avg_price_{t} =
            (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             FROM orders_{t})"""
    )
    return spark.sql(f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_above
        FROM orders_{t}
        WHERE o_totalprice > avg_price_{t}
        GROUP BY o_orderpriority
    """)


@query(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_totalprice > 50000.0
    GROUP BY o_orderstatus
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP (Spark 4): EXECUTE IMMEDIATE — SQL-level dynamic statement
    execution with positional ? parameters, the scripting counterpart of
    the Python-side parameterized spark.sql (sql_parameterized). The
    statement text is itself data (a single query string), parameters
    bind after parse.
    """
    _view(spark, sf_dir, "orders")
    t = _tag(sf_dir)
    stmt = (
        f"SELECT o_orderstatus, COUNT(*) AS n_orders FROM orders_{t} "
        "WHERE o_totalprice > ? GROUP BY o_orderstatus"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :stmt USING 50000.0", args={"stmt": stmt}
    )


@query(
    "sql_scripting",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS cnt FROM orders)
    SELECT CASE WHEN (SELECT cnt FROM n) >= 1000
                THEN 'large' ELSE 'small' END AS corpus_class,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP (Spark 4): SQL scripting — a BEGIN..END block with a DECLAREd
    variable, an assignment from a query, and IF/ELSE control flow
    choosing the result statement; the procedural-SQL surface that
    replaces driver-side glue for multi-step jobs. The branch condition
    (row count >= 1000) is data-deterministic, so the oracle inlines the
    same CASE.
    """
    _view(spark, sf_dir, "orders")
    t = _tag(sf_dir)
    return spark.sql(f"""
        BEGIN
          DECLARE cnt BIGINT DEFAULT 0;
          SET cnt = (SELECT COUNT(*) FROM orders_{t});
          IF cnt >= 1000 THEN
            SELECT 'large' AS corpus_class, o_orderstatus,
                   COUNT(*) AS n_orders
            FROM orders_{t} GROUP BY o_orderstatus;
          ELSE
            SELECT 'small' AS corpus_class, o_orderstatus,
                   COUNT(*) AS n_orders
            FROM orders_{t} GROUP BY o_orderstatus;
          END IF;
        END
    """)
