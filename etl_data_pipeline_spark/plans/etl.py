"""Classic ETL / warehouse operators beyond the relational core: cube &
grouping sets, pivot/unpivot reshaping, CDC latest-record extraction,
merge-upsert (SCD-style), date-spine densification, data-quality audit,
statistical aggregates, fuzzy (edit-distance) matching, and word-n-gram
Jaccard near-dup — all pure DataFrame compositions so Catalyst owns the
physical plan.

Determinism follows functions/canonical.py conventions: money through
DECIMAL(38,2) sums, floats that summation-order could perturb are rounded
identically in both engines, timestamps cross the oracle boundary as
strings, counts are BIGINT on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.functions.canonical import cents_grid, dec_sum
from etl_data_pipeline_spark.plans.registry import query
from etl_data_pipeline_spark.materialize import materialize
from etl_data_pipeline_spark.operators.sessionize import asof_join
from etl_data_pipeline_spark.operators.text import jaccard_pairs


# --------------------------------------------------------------------------
# D5 extensions: cube / grouping sets
# --------------------------------------------------------------------------

@query(
    "d5b_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           SUM(l_quantity) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def d5b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: CUBE — all 2^k grouping combinations in one pass (Expand node).

    Scale: Expand multiplies rows by the number of grouping sets before
    the shuffle, but partial aggregation collapses them map-side; the
    group-key space here is tiny so the exchange is negligible.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


@query(
    "d5c_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           SUM(l_quantity) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
)
def d5c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: explicit GROUPING SETS via the DataFrame API (Spark >= 4.0)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


# --------------------------------------------------------------------------
# Reshaping: pivot / unpivot
# --------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIAS = {
    "1-URGENT": "n_urgent",
    "2-HIGH": "n_high",
    "3-MEDIUM": "n_medium",
    "4-NOT SPECIFIED": "n_notspec",
    "5-LOW": "n_low",
}


@query(
    "pivot_wide",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
           COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
           COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
           COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_notspec,
           COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long→wide with an explicit value list.

    Passing the value list skips Spark's extra distinct-values job (a
    full scan) — at 100 TB the pivot domain must always be declared.
    Empty cells are filled 0 to match COUNT FILTER semantics.
    """
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return piv.select(
        "o_orderstatus",
        *[F.col(f"`{p}`").alias(a) for p, a in _PRIORITY_ALIAS.items()],
    )


@query(
    "unpivot_long",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) wide→long; narrow map-only transform, no shuffle."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# --------------------------------------------------------------------------
# CDC / upsert
# --------------------------------------------------------------------------

@query(
    "cdc_latest_per_key",
    oracle="""
    SELECT user_id, CAST(ts AS VARCHAR) AS last_ts,
           event_type AS last_event_type, value AS last_value
    FROM (
      SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: latest record per key (the standard changelog→
    snapshot step). One shuffle on the key; at 100 TB this is the
    window-dedup pattern that replaces a global sort.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").cast("string").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


@query(
    "merge_upsert",
    oracle="""
    WITH upd AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS delta
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
      UNION ALL SELECT 999999999, 100.0
    )
    SELECT COALESCE(c.c_custkey, u.o_custkey) AS custkey,
           COALESCE(c.c_name, '(new)') AS c_name,
           COALESCE(c.c_acctbal, 0) + COALESCE(u.delta, 0) AS new_bal,
           CASE WHEN c.c_custkey IS NULL THEN 'insert'
                WHEN u.o_custkey IS NULL THEN 'keep'
                ELSE 'update' END AS op
    FROM customer c FULL OUTER JOIN upd u ON c.c_custkey = u.o_custkey
    """,
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert as full-outer join + coalesce (insert / update /
    keep branches all exercised; a synthetic key triggers the insert).

    Scale: both sides shuffle on the merge key once; with bucketed base
    tables the exchange on the base side disappears entirely.
    """
    cust = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    upd = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(dec_sum(F.col("o_totalprice"), 2).alias("delta"))
        .unionByName(
            spark.range(1).select(
                F.lit(999999999).cast("long").alias("o_custkey"),
                F.lit(100.0).alias("delta"),
            )
        )
    )
    m = cust.join(upd, cust.c_custkey == upd.o_custkey, "full_outer")
    return m.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.coalesce("c_name", F.lit("(new)")).alias("c_name"),
        (F.coalesce("c_acctbal", F.lit(0)) + F.coalesce("delta", F.lit(0))).alias(
            "new_bal"
        ),
        F.when(F.col("c_custkey").isNull(), "insert")
        .when(F.col("o_custkey").isNull(), "keep")
        .otherwise("update")
        .alias("op"),
    )


# --------------------------------------------------------------------------
# Date spine / densification
# --------------------------------------------------------------------------

@query(
    "date_spine",
    oracle="""
    WITH b AS (
      SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
             CAST(MAX(o_orderdate) AS DATE) AS d1
      FROM orders
    ), days AS (
      SELECT CAST(UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM b
    ), daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT STRFTIME(days.day, '%Y-%m-%d') AS day,
           COALESCE(daily.n, 0) AS n_orders
    FROM days LEFT JOIN daily USING (day)
    """,
)
def date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine densification: generate every day in the data's range
    and left-join daily counts, zero-filling gaps (time-series ETL
    staple). The spine is generated, not scanned — O(days), broadcast.
    """
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.to_date("o_orderdate")).alias("d0"),
        F.max(F.to_date("o_orderdate")).alias("d1"),
    )
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        days.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"),
        )
    )


# --------------------------------------------------------------------------
# Data-quality audit
# --------------------------------------------------------------------------

@query(
    "dq_audit",
    oracle="""
    SELECT 'o_custkey' AS col_name,
           COUNT(*) - COUNT(o_custkey) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate',
           COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           CAST(MIN(o_orderdate) AS VARCHAR),
           CAST(MAX(o_orderdate) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority),
           MAX(o_orderpriority)
    FROM orders
    """,
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: per-column null count, distinct count, min/max.

    The non-distinct aggregates run in one pass (one wide agg row, then
    stack to long form); the 4 DISTINCT counts are decomposed into
    per-column distinct->count legs cross-joined onto the 1-row frame
    (r15 optimization round — same rewrite as profile_table: N distinct
    aggs in one agg plan as an Expand that multiplies every input row
    (N+1)-fold before the shuffle; per-column legs shuffle only the
    distinct values, which collapse map-side).  isNotNull on each leg
    keeps it exactly COUNT(DISTINCT c) under nulls.
    """
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("nn_ck"),
        F.min("o_custkey").cast("string").alias("mn_ck"),
        F.max("o_custkey").cast("string").alias("mx_ck"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).alias("nn_tp"),
        F.min("o_totalprice").cast("decimal(18,2)").cast("string").alias("mn_tp"),
        F.max("o_totalprice").cast("decimal(18,2)").cast("string").alias("mx_tp"),
        (F.count(F.lit(1)) - F.count("o_orderdate")).alias("nn_od"),
        F.min("o_orderdate").cast("string").alias("mn_od"),
        F.max("o_orderdate").cast("string").alias("mx_od"),
        (F.count(F.lit(1)) - F.count("o_orderpriority")).alias("nn_op"),
        F.min("o_orderpriority").alias("mn_op"),
        F.max("o_orderpriority").alias("mx_op"),
    )
    for c, tag in [
        ("o_custkey", "ck"),
        ("o_totalprice", "tp"),
        ("o_orderdate", "od"),
        ("o_orderpriority", "op"),
    ]:
        leg = (
            o.select(c)
            .filter(F.col(c).isNotNull())
            .distinct()
            .agg(F.count(F.lit(1)).alias(f"nd_{tag}"))
        )
        agg = agg.crossJoin(leg)
    return agg.selectExpr(
        """stack(4,
             'o_custkey', nn_ck, nd_ck, mn_ck, mx_ck,
             'o_totalprice', nn_tp, nd_tp, mn_tp, mx_tp,
             'o_orderdate', nn_od, nd_od, mn_od, mx_od,
             'o_orderpriority', nn_op, nd_op, mn_op, mx_op
           ) AS (col_name, n_nulls, n_distinct, min_val, max_val)"""
    )


# --------------------------------------------------------------------------
# Statistical aggregates
# --------------------------------------------------------------------------

@query(
    "stats_corr",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_extendedprice, l_quantity), 6) AS corr_price_qty,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
           ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 2) AS cov_price_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / stddev / covar) per group.

    Single-pass co-moment aggregation; results are rounded IDENTICALLY in
    both engines because summation order perturbs the last ulps (the
    rounding scale leaves >6 orders of magnitude of safety).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias(
            "cov_price_qty"
        ),
    )


# --------------------------------------------------------------------------
# Fuzzy matching / n-gram near-dup
# --------------------------------------------------------------------------

@query(
    "fuzzy_levenshtein",
    oracle="""
    WITH d AS (
      SELECT p_brand, p_name, COUNT(*) AS cnt
      FROM part GROUP BY p_brand, p_name
    )
    SELECT a.p_brand, a.p_name AS a_name, b.p_name AS b_name,
           CAST(LEVENSHTEIN(a.p_name, b.p_name) AS BIGINT) AS dist,
           CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs
    FROM d a JOIN d b
      ON a.p_brand = b.p_brand AND a.p_name < b.p_name
    WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 5
    """,
)
def fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) matching within a blocking key, at the
    DISTINCT-NAME grain.

    Rewritten after the two-scale slope check caught the row-grain form
    at slope 26 for 10x data (0.28 s -> 7.3 s): matching raw rows pairs
    every duplicate of a name with every duplicate of its neighbors —
    quadratic in corpus size whenever names repeat (1.9M output pairs
    at sf0.1).  Entity resolution's standard fix: aggregate to
    (brand, name, count) FIRST, run the expensive edit-distance join
    over DISTINCT names only — a space bounded by the name vocabulary
    (64 here), not the table — and carry the row-pair multiplicity as
    an exact count column (``n_pairs = cnt_a * cnt_b``).  Same
    information, output and work now O(|vocab|^2 per brand) at ANY
    corpus size.  At 100 TB with an open vocabulary, band the
    distinct-name join further (length band / first-token block).
    """
    p = load_table(spark, sf_dir, "part").select("p_brand", "p_name")
    d = p.groupBy("p_brand", "p_name").agg(F.count(F.lit(1)).alias("cnt"))
    a = d.select(
        F.col("p_brand"),
        F.col("p_name").alias("a_name"),
        F.col("cnt").alias("cnt_a"),
    )
    b = d.select(
        F.col("p_brand"),
        F.col("p_name").alias("b_name"),
        F.col("cnt").alias("cnt_b"),
    )
    return (
        a.join(b, "p_brand")
        .filter(F.col("a_name") < F.col("b_name"))
        .withColumn("dist", F.levenshtein("a_name", "b_name").cast("long"))
        .filter(F.col("dist") <= 5)
        .select(
            "p_brand",
            "a_name",
            "b_name",
            "dist",
            (F.col("cnt_a") * F.col("cnt_b")).cast("bigint").alias("n_pairs"),
        )
    )


@query(
    "i4c_ngram_jaccard",
    oracle="""
    WITH pos AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok,
             UNNEST(GENERATE_SERIES(1, LEN(STRING_SPLIT(text, ' ')))) AS i
      FROM documents
    ), bg0 AS (
      SELECT DISTINCT a.doc_id, a.lang, a.tok || ' ' || b.tok AS sh
      FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ), bs AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs FROM bg0 GROUP BY lang
    ), dfc AS (
      SELECT lang, sh, COUNT(*) AS df FROM bg0 GROUP BY lang, sh
    ), bg AS (
      SELECT bg0.doc_id, bg0.lang, bg0.sh
      FROM bg0 JOIN dfc USING (lang, sh) JOIN bs USING (lang)
      WHERE dfc.df * 5 <= 1 * bs.n_docs
    ), cnt AS (
      SELECT doc_id, COUNT(*) AS n FROM bg GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS i
      FROM bg a JOIN bg b
        ON a.lang = b.lang AND a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT inter.a, inter.b,
           inter.i / CAST(ca.n + cb.n - inter.i AS DOUBLE) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = inter.a
    JOIN cnt cb ON cb.doc_id = inter.b
    WHERE inter.i / CAST(ca.n + cb.n - inter.i AS DOUBLE) >= 0.5
    """,
)
def i4c_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4 variant: word-BIGRAM (n-gram) Jaccard near-dup, blocked by lang.

    Bigram shingles are far more selective than unigram tokens, so the
    inverted-index self-join materializes fewer candidate pairs — the
    better exact verifier at scale (and the shingle of choice feeding
    MinHash in i4b).

    Carries the SAME quadratic-fan-out guard as i4/containment_pairs:
    shingles in more than 1/5 of a block's docs (stop-bigrams — "of
    the") are dropped BEFORE set sizes are computed, in integer
    arithmetic (df*5 <= n_docs) mirrored in the oracle.  Without it a
    stop-bigram's join fan-out is |block|^2 at 100 TB; Jaccard is then
    over the filtered shingle sets on both engines.  (Measured on the
    fixed-vocab synthetic corpus, per-shingle df grows LINEARLY with
    corpus size — sum(df^2) 221k at sf0.01 -> 19.0M at sf0.1 — which
    is exactly the blow-up the cap bounds.)

    One machinery with i4: this is ``operators.text.jaccard_pairs``
    with ``shingle_n=2`` — same inverted-index join, same integer
    df-cap, same multi-consumer materialize() point — so the guard is
    tested once (tests/test_skew_stress.py) and holds for both
    shingle grains.
    """
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(d, threshold=0.5, max_df_frac=0.2, shingle_n=2).select("a", "b", "jaccard")


# --------------------------------------------------------------------------
# SCD2 / history building
# --------------------------------------------------------------------------

@query(
    "scd2_intervals",
    oracle="""
    SELECT user_id,
           CAST(ts AS VARCHAR) AS valid_from,
           CAST(LEAD(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS VARCHAR) AS valid_to,
           event_type
    FROM events
    """,
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: each change record gets a validity
    interval [ts, next ts); the open (current) row has valid_to NULL.
    One window shuffle on the key — the standard dimension-history pass.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.col("ts").cast("string").alias("valid_from"),
        F.lead("ts").over(w).cast("string").alias("valid_to"),
        "event_type",
    )


# --------------------------------------------------------------------------
# Histogram (portable fixed-width bucketing)
# --------------------------------------------------------------------------

@query(
    "histogram_totalprice",
    oracle="""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 60000), 9) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS lo,
           CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via portable arithmetic bucketing (identical
    FLOOR(x/width) expression both engines — exact double division, no
    width_bucket dialect differences). Map-side combinable: one shuffle
    of bucket_count rows.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket",
            F.least(F.floor(F.col("o_totalprice") / 60000), F.lit(9)).cast("long"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").cast("decimal(18,2)").cast("string").alias("lo"),
            F.max("o_totalprice").cast("decimal(18,2)").cast("string").alias("hi"),
        )
    )


# --------------------------------------------------------------------------
# Incremental (high-watermark) load
# --------------------------------------------------------------------------

@query(
    "incremental_merge",
    oracle="""
    SELECT STRFTIME(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1
    """,
)
def incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental high-watermark load: the historical summary (rows at or
    before the watermark) and the increment summary (rows after it) are
    computed separately and MERGED — and the oracle is the full-table
    aggregate, proving incremental maintenance reproduces a full
    recompute exactly (decimal partial sums re-add losslessly).

    Scale: this is the pattern that turns a 100 TB daily recompute into
    an increment-sized job; only the merge groupBy touches the summary.
    """
    o = load_table(spark, sf_dir, "orders")
    wm = F.lit("2000-01-01").cast("timestamp")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum(F.col("o_totalprice"), 2).alias("total"),
        )

    hist = summarize(o.filter(F.col("o_orderdate") <= wm))
    inc = summarize(o.filter(F.col("o_orderdate") > wm))
    return (
        hist.unionByName(inc)
        .groupBy("month")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total").alias("total"),
        )
    )


# --------------------------------------------------------------------------
# Window distribution functions + pagination
# --------------------------------------------------------------------------

@query(
    "e1b_percent_rank",
    oracle="""
    SELECT o_custkey, o_orderkey,
           ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 9) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def e1b_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 extension: distribution window functions (percent_rank /
    cume_dist). Ratios of integer ranks — rounded identically at 9dp on
    both sides (the division itself is exact-input double math)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
    )


@query(
    "f3_pagination",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 20 OFFSET 40
    """,
)
def f3_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F extension: deterministic pagination (ORDER BY with total-order
    tiebreak + OFFSET/LIMIT). Note OFFSET forces a single-partition tail
    at scale — deep pagination on a cluster should become a keyset filter
    (WHERE key > last_seen ORDER BY key LIMIT n) instead; this operator
    exists for API parity.
    """
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .offset(40)
        .limit(20)
    )


@query(
    "h4b_array_setops",
    oracle="""
    WITH t AS (
      SELECT d1.doc_id AS a, d2.doc_id AS b,
             STRING_SPLIT(d1.text, ' ') AS ta, STRING_SPLIT(d2.text, ' ') AS tb
      FROM documents d1 JOIN documents d2 ON d2.doc_id = d1.doc_id + 1
      WHERE d1.doc_id < 10
    )
    SELECT a, b,
           COALESCE(ARRAY_TO_STRING(
             LIST_SORT(LIST_DISTINCT(LIST_INTERSECT(ta, tb))), ' '), '')
             AS common,
           CAST(LEN(LIST_DISTINCT(ta || tb)) AS BIGINT) AS n_union,
           CAST(LEN(LIST_FILTER(LIST_DISTINCT(ta),
                x -> NOT LIST_CONTAINS(tb, x))) AS BIGINT) AS n_only_a
    FROM t
    """,
)
def h4b_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H4 extension: array set algebra (intersect / union / except) on
    token arrays — sorted + deduped, then serialized to a space-joined
    string (the driver's canonicalizer cannot sort array cells, so
    array-typed columns must not reach the final projection)."""
    d = load_table(spark, sf_dir, "documents")
    d1 = d.select(F.col("doc_id").alias("a"), F.split("text", " ").alias("ta"))
    d2 = d.select(F.col("doc_id").alias("b"), F.split("text", " ").alias("tb"))
    pairs = d1.filter(F.col("a") < 10).join(d2, F.col("b") == F.col("a") + 1)
    return pairs.select(
        "a",
        "b",
        F.array_join(
            F.sort_array(F.array_distinct(F.array_intersect("ta", "tb"))), " "
        ).alias("common"),
        F.size(F.array_distinct(F.array_union("ta", "tb"))).cast("long").alias(
            "n_union"
        ),
        F.size(F.array_distinct(F.array_except("ta", "tb"))).cast("long").alias(
            "n_only_a"
        ),
    )


# --------------------------------------------------------------------------
# Set operations with multiplicity (G2 _all variants)
# --------------------------------------------------------------------------

@query(
    "g2b_setops_all",
    oracle="""
    WITH a AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'),
         b AS (SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'),
         i AS (SELECT o_orderpriority FROM a INTERSECT ALL
               SELECT o_orderpriority FROM b),
         e AS (SELECT o_orderpriority FROM a EXCEPT ALL
               SELECT o_orderpriority FROM b),
         ic AS (SELECT o_orderpriority, COUNT(*) AS n_intersect_all FROM i GROUP BY 1),
         ec AS (SELECT o_orderpriority, COUNT(*) AS n_except_all FROM e GROUP BY 1)
    SELECT COALESCE(ic.o_orderpriority, ec.o_orderpriority) AS priority,
           COALESCE(ic.n_intersect_all, 0) AS n_intersect_all,
           COALESCE(ec.n_except_all, 0) AS n_except_all
    FROM ic FULL OUTER JOIN ec ON ic.o_orderpriority = ec.o_orderpriority
    """,
)
def g2b_setops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 _all variants: INTERSECT ALL / EXCEPT ALL keep multiplicities
    (bag semantics); outputs are per-value multiplicity counts so the
    result stays bounded at any scale."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    ic = (
        a.intersectAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_intersect_all"))
    )
    ec = (
        a.exceptAll(b)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_except_all"))
    )
    ic_r = ic.select(F.col("o_orderpriority").alias("p_i"), "n_intersect_all")
    ec_r = ec.select(F.col("o_orderpriority").alias("p_e"), "n_except_all")
    m = ic_r.join(ec_r, ic_r.p_i == ec_r.p_e, "full_outer")
    return m.select(
        F.coalesce("p_i", "p_e").alias("priority"),
        F.coalesce("n_intersect_all", F.lit(0)).alias("n_intersect_all"),
        F.coalesce("n_except_all", F.lit(0)).alias("n_except_all"),
    )


# --------------------------------------------------------------------------
# Safe casts, string aggregation, mode / boolean aggregates
# --------------------------------------------------------------------------

@query(
    "b5b_try_cast",
    oracle="""
    SELECT doc_id,
           TRY_CAST(lang AS INTEGER) AS lang_as_int,
           TRY_CAST(CAST(n_chars AS VARCHAR) AS INTEGER) AS chars_back,
           NULLIF(lang, 'en') AS lang_non_en
    FROM documents
    """,
)
def b5b_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 extension: TRY_CAST (unparseable -> NULL instead of error) and
    NULLIF — the robust-ingest cast discipline; a failed cast must never
    kill a 100 TB job."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").try_cast("int").alias("lang_as_int"),
        F.col("n_chars").cast("string").try_cast("int").alias("chars_back"),
        F.nullif(F.col("lang"), F.lit("en")).alias("lang_non_en"),
    )


@query(
    "d7b_string_agg",
    oracle="""
    SELECT n_regionkey,
           STRING_AGG(DISTINCT n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
)
def d7b_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 extension: string aggregation (listagg) — collect_set sorted
    then joined, so element order is total and both engines agree."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations")
    )


@query(
    "d9_mode_bool_agg",
    oracle="""
    SELECT o_orderstatus,
           (SELECT m.o_orderpriority FROM orders m
            WHERE m.o_orderstatus = o.o_orderstatus
            GROUP BY m.o_orderpriority
            ORDER BY COUNT(*) DESC, m.o_orderpriority LIMIT 1) AS mode_priority,
           BOOL_AND(o_totalprice > 0) AS all_positive,
           BOOL_OR(o_totalprice > 400000) AS any_over_400k
    FROM orders o
    GROUP BY o_orderstatus
    """,
)
def d9_mode_bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: deterministic MODE (most frequent value, ties -> smallest) via
    count + rank — Spark's native mode() is tie-nondeterministic, so the
    engine pins the tiebreak — plus bool_and / bool_or aggregates."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    mode = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_orderstatus", F.col("o_orderpriority").alias("mode_priority"))
    )
    bools = o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
    )
    return mode.join(bools, "o_orderstatus").select(
        "o_orderstatus", "mode_priority", "all_positive", "any_over_400k"
    )


@query(
    "e1c_ntile",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           NTILE(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    """,
)
def e1c_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 completion: NTILE bucketing — the one ranking window function
    the E-family queries didn't yet pin. Both engines define NTILE
    identically (larger buckets first when the partition doesn't divide
    evenly), so the total-order tiebreak (acctbal, custkey) makes the
    assignment deterministic. Spark returns int32, DuckDB int64 — cast
    to long (the standing ranking-fn dtype convention)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@query(
    "profile_table",
    oracle="""
    SELECT 'o_orderkey' AS col, COUNT(*) AS n,
           COUNT(*) - COUNT(o_orderkey) AS n_null,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
           CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*), COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate),
           CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
    FROM orders
    """,
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: per-column completeness/cardinality/range summary
    (the ingest-time audit every warehouse runs before accepting a drop).
    Long output: (col, n, n_null, n_distinct, min_s, max_s).

    The 20 non-distinct aggregates run in a single agg pass (partial
    aggregation map-side), then the 1-row wide result is unpivoted to
    long with stack() — no per-column re-scan, unlike the naive UNION
    ALL the oracle states.  The 5 DISTINCT counts are DECOMPOSED into
    per-column distinct->count legs cross-joined onto the 1-row frame
    (r15 optimization round — the distinct_agg discipline applied here:
    N distinct aggs in one agg plan as an Expand that multiplies every
    input row (N+1)-fold before the shuffle, confirmed in the executed
    plan; per-column legs shuffle only the distinct values, which
    collapse map-side).  Interleaved A/B at sf0.1: identical 5 rows,
    2.7-3.7 s -> 0.77-1.2 s.  Ranges cross the oracle boundary as
    strings (timestamp/int formatting is byte-identical; doubles are
    excluded from profiling for exactly that reason — shortest-repr
    differs at the edges).
    """
    o = load_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "o_orderdate",
    ]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            F.min(c).cast("string").alias(f"{c}__min_s"),
            F.max(c).cast("string").alias(f"{c}__max_s"),
        ]
    wide = o.agg(*aggs)
    for c in cols:
        # isNotNull keeps the leg exactly COUNT(DISTINCT c): a distinct
        # over the raw column would count a NULL row, which both
        # count_distinct and the oracle's COUNT(DISTINCT) exclude
        leg = (
            o.select(c)
            .filter(F.col(c).isNotNull())
            .distinct()
            .agg(F.count(F.lit(1)).alias(f"{c}__n_distinct"))
        )
        wide = wide.crossJoin(leg)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__n_null, {c}__n_distinct, {c}__min_s, {c}__max_s"
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col, n, n_null, n_distinct, min_s, max_s)"
    )


@query(
    "rfm_segmentation",
    oracle="""
    WITH mx AS (SELECT MAX(o_orderdate) AS dmax FROM orders),
    per AS (
      SELECT o.o_custkey AS custkey,
             DATE_DIFF('day', CAST(MAX(o.o_orderdate) AS DATE),
                       CAST(MIN(mx.dmax) AS DATE)) AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,2))) * 100
                  AS BIGINT) AS monetary_cents
      FROM orders o CROSS JOIN mx
      GROUP BY o.o_custkey
    ),
    scored AS (
      SELECT custkey, recency_days, frequency, monetary_cents,
             NTILE(5) OVER (ORDER BY recency_days, custkey) AS r,
             NTILE(5) OVER (ORDER BY frequency DESC, custkey) AS f,
             NTILE(5) OVER (ORDER BY monetary_cents DESC, custkey) AS m
      FROM per
    )
    SELECT custkey, CAST(recency_days AS BIGINT) AS recency_days,
           frequency,
           CAST(monetary_cents AS DOUBLE) / 100.0 AS monetary,
           CAST(r AS BIGINT) AS r_quintile,
           CAST(f AS BIGINT) AS f_quintile,
           CAST(m AS BIGINT) AS m_quintile,
           CONCAT(CAST(r AS VARCHAR), CAST(f AS VARCHAR),
                  CAST(m AS VARCHAR)) AS rfm
    FROM scored
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency (days since last order, vs
    the corpus max date), frequency (order count), monetary (exact
    money total), each cut into quintiles, concatenated to the classic
    'rfm' segment code.  The canonical warehouse-ETL scoring mart.

    Exactness: recency diffs whole DATEs (both engines truncate the
    timestamp identically), monetary is a BIGINT cent sum
    (``cents_grid``), and every NTILE orders by an exact integer with a custkey
    tiebreak — no float anywhere.

    Scale: one shuffle to the per-customer grain, then three quintile
    windows.  NTILE here is a single-partition sort over CUSTOMERS
    (already aggregated, |customers| << |orders|); at 1e8+ customers
    cut quintiles by range-partitioned two-phase rank (global_shuffle
    pattern) or percentile boundaries instead — same output contract.
    """
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_orderdate").alias("dmax"))
    per = (
        o.crossJoin(F.broadcast(mx))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(
                F.to_date(F.min("dmax")), F.to_date(F.max("o_orderdate"))
            )
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents_grid(F.col("o_totalprice"), 2)).alias(
                "monetary_cents"
            ),
        )
    )
    r = F.ntile(5).over(
        Window.orderBy(F.asc("recency_days"), F.asc("custkey"))
    )
    f = F.ntile(5).over(
        Window.orderBy(F.desc("frequency"), F.asc("custkey"))
    )
    m = F.ntile(5).over(
        Window.orderBy(F.desc("monetary_cents"), F.asc("custkey"))
    )
    scored = per.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        r.alias("r"),
        f.alias("f"),
        m.alias("m"),
    )
    return scored.select(
        "custkey",
        "recency_days",
        "frequency",
        (F.col("monetary_cents").cast("double") / 100.0).alias("monetary"),
        F.col("r").cast("bigint").alias("r_quintile"),
        F.col("f").cast("bigint").alias("f_quintile"),
        F.col("m").cast("bigint").alias("m_quintile"),
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ).alias("rfm"),
    )


@query(
    "dq_fk_orphans",
    oracle="""
    SELECT 'lineitem->orders' AS fk,
           (SELECT COUNT(*) FROM lineitem) AS n_child,
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (
              SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (
              SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS (
              SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS (
              SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer c WHERE NOT EXISTS (
              SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier->nation',
           (SELECT COUNT(*) FROM supplier),
           (SELECT COUNT(*) FROM supplier s WHERE NOT EXISTS (
              SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
    """,
)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every foreign-key edge of the
    star schema, the child row count and how many children have no
    parent (orphans) — the load-validation gate a warehouse runs after
    every ingest, complementing dq_audit's per-column profile.

    Scale: each orphan count is a LEFT ANTI join on the FK — dims
    broadcast, the two fact-sized checks shuffle on their key once; all
    six checks are independent so the scheduler overlaps them.  Counts
    are exact integers (a clean corpus hashes as all-zeros orphans,
    and any regression shows as a nonzero cell, not a flaky float).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")

    def check(name, child, child_key, parent, parent_key) -> DataFrame:
        orphans = child.select(child_key).join(
            parent.select(parent_key),
            F.col(child_key) == F.col(parent_key),
            "left_anti",
        )
        return (
            child.agg(F.count(F.lit(1)).alias("n_child"))
            .crossJoin(
                F.broadcast(
                    orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
                )
            )
            .select(F.lit(name).alias("fk"), "n_child", "n_orphans")
        )

    return (
        check("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(check("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(
            check("lineitem->supplier", li, "l_suppkey", s, "s_suppkey")
        )
        .unionByName(check("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(
            check("customer->nation", c, "c_nationkey", n, "n_nationkey")
        )
        .unionByName(
            check("supplier->nation", s, "s_nationkey", n, "n_nationkey")
        )
    )


def _skyline_block(batches):
    """Exact 2-D skyline (min price, max size) of one partition's rows.

    Vectorized: sort by (price asc, size desc); within a price group only
    the max-size row can be on the front; across strictly-increasing
    prices a survivor needs size strictly above the running max.  Output
    of a partition-local pass is a superset-free LOCAL front — the union
    of local fronts provably contains the global front (dominance is
    transitive), which a second single-partition pass reduces exactly.
    """
    import pandas as pd

    dfs = list(batches)
    if not dfs:
        # mapInPandas invokes the UDF with an EMPTY iterator for empty
        # partitions (more shuffle partitions than groups); pd.concat([])
        # raises, so yield nothing instead.
        return
    pdf = pd.concat(dfs, ignore_index=True)
    if len(pdf) == 0:
        yield pdf
        return
    pdf = pdf.sort_values(
        ["p_retailprice", "p_size"], ascending=[True, False], kind="mergesort"
    )
    first_per_price = ~pdf["p_retailprice"].duplicated(keep="first")
    pdf = pdf[first_per_price]
    running = pdf["p_size"].cummax().shift(fill_value=-(10**9))
    yield pdf[pdf["p_size"] > running]


@query(
    "skyline_price_size",
    oracle="""
    WITH pts AS (
      SELECT p_retailprice, p_size, CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_retailprice, p_size
    )
    SELECT p.p_retailprice, p.p_size, p.n_parts
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front query: the parts no other part dominates on
    (cheaper-or-equal price, larger-or-equal size, strictly better in
    one) — the classic multi-criteria shortlist operator (Borzsony et
    al., ICDE'01).

    Distributed two-phase plan: (1) distinct (price, size) points with
    multiplicity, (2) partition-local exact skyline via mapInPandas —
    each task emits only its own front, O(points) work after a local
    sort, (3) the union of local fronts (tiny: the front of n random
    2-d points is O(log n) in expectation) collapses to one partition
    for the exact global reduce.  No self-join, no cartesian: the
    oracle's NOT EXISTS is the spec, not the plan.  Comparisons are on
    raw parquet doubles (bit-identical in both engines); no arithmetic
    touches the values.
    """
    pts = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_retailprice", "p_size")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    schema = "p_retailprice double, p_size int, n_parts long"
    local = pts.mapInPandas(_skyline_block, schema=schema)
    return local.repartition(1).mapInPandas(_skyline_block, schema=schema)


@query(
    "benford_digit_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit
    ), t AS (SELECT SUM(n) AS total FROM c)
    SELECT c.digit, c.n,
           (c.n * 1000000) // CAST(t.total AS BIGINT) AS pct_grid,
           CAST(FLOOR(LOG10(1 + 1.0 / c.digit) * 1000000) AS BIGINT)
             AS benford_grid
    FROM c CROSS JOIN t
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of ``o_totalprice``: observed first-significant-
    digit distribution vs the Benford expectation log10(1 + 1/d) — the
    classic fraud/synthetic-data screen for financial columns (a DQ
    sibling of ``dq_audit``; synthetic TPC-H amounts are uniform-ish, so
    the deviation itself is the finding the audit reports).

    Exactness: the first digit comes from FLOOR (exact on doubles) ->
    BIGINT -> string prefix — no ROUND on money doubles ever; observed
    shares are exact integer division on the 1e-6 grid; the Benford
    reference is a single LOG10 of a small rational, floored onto the
    same grid.  Scale: one map-side-combined groupBy over 9 cells plus a
    broadcast single-row total.
    """
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("long")
    c = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.expr("(n * 1000000) div total").alias("pct_grid"),
        F.floor(F.log10(1 + 1.0 / F.col("digit")) * 1000000)
        .cast("long")
        .alias("benford_grid"),
    )


@query(
    "weighted_median",
    oracle="""
    WITH vals AS (
      SELECT l_returnflag, l_extendedprice AS price,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY l_returnflag, l_extendedprice
    ), tot AS (
      SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tw
      FROM vals GROUP BY l_returnflag
    ), cum AS (
      SELECT l_returnflag, price, w,
             CAST(SUM(w) OVER (
               PARTITION BY l_returnflag ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cw
      FROM vals
    )
    SELECT c.l_returnflag,
           MIN(c.price) AS weighted_median_price,
           MIN(t.tw) AS total_weight
    FROM cum c JOIN tot t USING (l_returnflag)
    WHERE 2 * c.cw >= t.tw
    GROUP BY c.l_returnflag
    """,
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (lower weighted median) of
    ``l_extendedprice`` per return flag, weighted by quantity: the
    smallest price whose cumulative weight reaches half the group total
    — the robust "typical value weighted by volume" statistic
    (unweighted medians live in d8/rolling_median; this is the
    frequency-weighted sibling).

    Exactness: weights collapse to exact BIGINTs per distinct price
    first, the running total is an integer window sum over the price
    order (distinct prices, so the order is total and engine-agnostic),
    and the half-total test is the division-free ``2*cum >= total``.
    The selected price is a raw parquet double — no arithmetic touches
    it. Scale: the distinct-price pre-aggregation caps the window input
    at |distinct values| per group; one shuffle for the agg, one for
    the per-group window, then a broadcast-size join on |groups| rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("price")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("w")
    )
    tot = vals.groupBy("l_returnflag").agg(F.sum("w").cast("long").alias("tw"))
    wcum = Window.partitionBy("l_returnflag").orderBy("price").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vals.select(
        "l_returnflag", "price", F.sum("w").over(wcum).cast("long").alias("cw")
    )
    return (
        cum.join(F.broadcast(tot), "l_returnflag")
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.min("tw").alias("total_weight"),
        )
    )


@query(
    "e1d_cume_dist_nth",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CUME_DIST() OVER w AS cd,
           NTH_VALUE(c_name, 2) OVER (
             PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_poorest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def e1d_cume_dist_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 completion: the last two unpinned window functions —
    CUME_DIST (fraction of partition at-or-below the current row) and
    NTH_VALUE over a full-partition frame (the partition's second row by
    account balance), per nation.

    Determinism: the order key (c_acctbal, c_custkey) is a total order,
    so cume_dist is exactly rank/n (one integer division per row —
    identical doubles cross-engine) and nth_value picks one well-defined
    row. Scale: one shuffle on c_nationkey, both functions evaluated in
    the same window pass.
    """
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("c_name", 2).over(wf).alias("second_poorest"),
    )


@query(
    "table_diff",
    oracle="""
    WITH snap_a AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 10 != 0
    ), snap_b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % 11 != 0
    ), j AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
             CASE
               WHEN a.o_orderkey IS NULL THEN 'added'
               WHEN b.o_orderkey IS NULL THEN 'removed'
               WHEN a.o_orderstatus != b.o_orderstatus
                    OR a.o_totalprice != b.o_totalprice THEN 'changed'
               ELSE 'unchanged' END AS status,
             CASE WHEN a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                       AND a.o_orderstatus != b.o_orderstatus
                  THEN 1 ELSE 0 END AS status_changed
      FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(status_changed) AS BIGINT) AS n_status_changed
    FROM j GROUP BY status
    """,
)
def table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation / table diff — the ETL regression check
    run after every backfill: classify each key of two table versions as
    added / removed / changed / unchanged and count which column drove
    the change. The two versions are carved deterministically from
    ``orders`` (A drops keys %10==0, B drops %11==0 and flips the status
    of %7==0), so both engines diff identical snapshots.

    Plan: ONE full-outer join on the key (the canonical diff shape —
    never a row-hash cross-compare), then a 4-row classification agg.
    Scale: the join shuffles both snapshots once on the key; per-column
    change predicates are codegen'd comparisons; output is O(|statuses|).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_a = o.filter(F.col("o_orderkey") % 10 != 0)
    snap_b = o.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    a = snap_a.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st_a"),
        F.col("o_totalprice").alias("tp_a"),
    )
    b = snap_b.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st_b"),
        F.col("o_totalprice").alias("tp_b"),
    )
    j = a.join(b, "k", "full_outer").select(
        F.when(F.col("st_a").isNull(), F.lit("added"))
        .when(F.col("st_b").isNull(), F.lit("removed"))
        .when(
            (F.col("st_a") != F.col("st_b")) | (F.col("tp_a") != F.col("tp_b")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        F.when(
            F.col("st_a").isNotNull()
            & F.col("st_b").isNotNull()
            & (F.col("st_a") != F.col("st_b")),
            1,
        )
        .otherwise(0)
        .alias("status_changed"),
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("status_changed").cast("long").alias("n_status_changed"),
    )


@query(
    "d5d_grouping_id",
    oracle="""
    SELECT n_name, o_orderstatus,
           CAST(GROUPING_ID(n_name, o_orderstatus) AS BIGINT) AS gid,
           CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY GROUPING SETS ((n_name, o_orderstatus), (n_name), ())
    """,
)
def d5d_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 completion: GROUPING_ID / GROUPING markers on grouping sets —
    the bitmask consumers use to route subtotal rows (0 = detail, 1 =
    per-nation subtotal, 3 = grand total; both engines assign the same
    leftmost-column-is-MSB convention, which this query pins
    cross-engine). Same snowflake join as d5, broadcast dims."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = o.join(
        F.broadcast(c), F.col("c_custkey") == F.col("o_custkey")
    ).join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
    return (
        joined.groupingSets(
            [["n_name", "o_orderstatus"], ["n_name"], []],
            "n_name",
            "o_orderstatus",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.grouping("n_name").cast("long").alias("g_nation"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("n_name", "o_orderstatus", "gid", "g_nation", "n_orders")
    )


@query(
    "data_skew_report",
    oracle="""
    WITH keyed AS (
      SELECT 'l_suppkey' AS key_col, l_suppkey AS k FROM lineitem
      UNION ALL
      SELECT 'l_partkey' AS key_col, l_partkey AS k FROM lineitem
    ), freq AS (
      SELECT key_col, k, COUNT(*) AS f FROM keyed GROUP BY key_col, k
    )
    SELECT key_col,
           CAST(SUM(f) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(f) AS BIGINT) AS max_key_freq,
           (MAX(f) * COUNT(*) * 1000000) // CAST(SUM(f) AS BIGINT)
             AS skew_grid
    FROM freq GROUP BY key_col
    """,
)
def data_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew observability: per candidate shuffle key, the row
    count, distinct-key count, hottest-key frequency, and the skew ratio
    max_freq / (rows / keys) on the exact 1e-6 grid — the number that
    predicts whether a shuffle on that key needs salting or AQE skew
    handling (1e6 = perfectly uniform; the report is what a pipeline
    checks BEFORE picking join strategy, feeding skew_salted_join).

    Scale: one map-side-combined count per key column, then a per-column
    rollup — the same two-level agg any cardinality profiler runs; no
    joins, no collect.
    """
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        F.lit("l_suppkey").alias("key_col"), F.col("l_suppkey").alias("k")
    ).unionAll(
        li.select(
            F.lit("l_partkey").alias("key_col"), F.col("l_partkey").alias("k")
        )
    )
    freq = keyed.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("f"))
    return freq.groupBy("key_col").agg(
        F.sum("f").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("f").cast("long").alias("max_key_freq"),
        F.expr("(max(f) * count(1) * 1000000) div sum(f)").alias("skew_grid"),
    )


@query(
    "b5c_try_arithmetic",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             o_orderkey - (SELECT MIN(o_orderkey) FROM orders) AS off
      FROM orders
    )
    SELECT CAST(SUM(CASE WHEN off = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_div_zero_nulled,
           CAST(SUM(CASE WHEN off != 0
                         AND o_totalprice / off > 1000.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high_ratio,
           CAST(SUM(CASE WHEN off > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_add_overflow_nulled
    FROM t
    """,
)
def b5c_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5 completion: ANSI-safe TRY_* arithmetic — try_divide yields
    NULL on division by zero and try_add NULL on int64 overflow instead
    of an ANSI runtime error, the idiom for keeping a 100 TB job alive
    through dirty rows while still COUNTING the failures (b5b covers
    try_cast; this covers the arithmetic family).

    The query manufactures one guaranteed zero divisor (the min-key row
    offset) and probes overflow against INT64 MAX; the oracle computes
    the same failure counts arithmetically (DuckDB's `/` never raises
    for doubles, so its CASE mirrors the NULL contract).
    """
    o = load_table(spark, sf_dir, "orders")
    min_key = o.agg(F.min("o_orderkey").alias("mn"))
    t = o.crossJoin(F.broadcast(min_key)).select(
        "o_totalprice", (F.col("o_orderkey") - F.col("mn")).alias("off")
    )
    probe = t.select(
        F.expr("try_divide(o_totalprice, off)").alias("ratio"),
        F.expr(
            "try_add(CAST(9223372036854775807 AS BIGINT), off)"
        ).alias("near_max"),
        "off",
    )
    return probe.agg(
        F.sum(
            F.when(F.col("ratio").isNull() & (F.col("off") == 0), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("n_div_zero_nulled"),
        F.sum(F.when(F.col("ratio") > 1000.0, 1).otherwise(0))
        .cast("long")
        .alias("n_high_ratio"),
        F.sum(F.when(F.col("near_max").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_add_overflow_nulled"),
    )


#: Declarative DQ expectation rules for ``orders``: (rule name, SQL
#: predicate that must hold). Evaluated in ONE scan — each rule becomes
#: a conditional count in a single aggregate, then the wide row unpivots
#: to (rule, n_checked, n_failed, pass_grid). Adding a rule is one
#: tuple; the plan stays a single pass regardless of rule count.
DQ_EXPECTATIONS = [
    ("totalprice_positive", "o_totalprice > 0"),
    ("status_in_domain", "o_orderstatus IN ('O', 'F', 'P')"),
    ("orderdate_in_range",
     "o_orderdate >= TIMESTAMP '1995-01-01' "
     "AND o_orderdate < TIMESTAMP '2002-01-01'"),
    ("priority_wellformed", "o_orderpriority LIKE '%-%'"),
    ("clerk_key_parity", "o_orderkey % 1 = 0"),
]


@query(
    "dq_expectations",
    oracle="""
    WITH agg AS (
      SELECT COUNT(*) AS n,
        SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS f1,
        SUM(CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P'))
                 THEN 1 ELSE 0 END) AS f2,
        SUM(CASE WHEN NOT (o_orderdate >= TIMESTAMP '1995-01-01'
                           AND o_orderdate < TIMESTAMP '2002-01-01')
                 THEN 1 ELSE 0 END) AS f3,
        SUM(CASE WHEN NOT (o_orderpriority LIKE '%-%')
                 THEN 1 ELSE 0 END) AS f4,
        SUM(CASE WHEN NOT (o_orderkey % 1 = 0) THEN 1 ELSE 0 END) AS f5
      FROM orders
    )
    SELECT r.rule,
           CAST(agg.n AS BIGINT) AS n_checked,
           CAST(CASE r.rule
             WHEN 'totalprice_positive' THEN f1
             WHEN 'status_in_domain' THEN f2
             WHEN 'orderdate_in_range' THEN f3
             WHEN 'priority_wellformed' THEN f4
             ELSE f5 END AS BIGINT) AS n_failed,
           ((CAST(agg.n AS BIGINT) - CAST(CASE r.rule
             WHEN 'totalprice_positive' THEN f1
             WHEN 'status_in_domain' THEN f2
             WHEN 'orderdate_in_range' THEN f3
             WHEN 'priority_wellformed' THEN f4
             ELSE f5 END AS BIGINT)) * 1000000)
             // CAST(agg.n AS BIGINT) AS pass_grid
    FROM agg CROSS JOIN (
      SELECT UNNEST(['totalprice_positive', 'status_in_domain',
                     'orderdate_in_range', 'priority_wellformed',
                     'clerk_key_parity']) AS rule) r
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (the
    Deequ/Great-Expectations shape): rules are (name, predicate) data,
    the engine compiles ALL of them into ONE conditional-count aggregate
    — a single table scan no matter how many rules — then unpivots the
    wide result to one row per rule with checked/failed counts and an
    exact integer-grid pass rate.

    Scale: adding the 100th rule adds one codegen'd conditional sum to
    the same scan, not another pass; rules never leave the JVM. The
    synthetic corpus passes all five (the audit proves the absence of
    violations, same posture as dq_audit/dq_fk_orphans).
    """
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(F.when(~F.expr(pred), 1).otherwise(0)).alias(f"f{i}")
        for i, (_, pred) in enumerate(DQ_EXPECTATIONS)
    ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', f{i}" for i, (name, _) in enumerate(DQ_EXPECTATIONS)
    )
    tall = wide.select(
        "n",
        F.expr(
            f"stack({len(DQ_EXPECTATIONS)}, {stack_args}) AS (rule, nf)"
        ),
    )
    return tall.select(
        "rule",
        F.col("n").cast("long").alias("n_checked"),
        F.col("nf").cast("long").alias("n_failed"),
        F.expr("((n - nf) * 1000000) div n").alias("pass_grid"),
    )


@query(
    "scd2_point_in_time_join",
    oracle="""
    WITH dim AS (
      SELECT user_id, event_type AS state, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM events WHERE event_type IN ('signup', 'error')
    ), p AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           CAST(p.ts AS VARCHAR) AS purchase_ts,
           d.state,
           CAST(d.valid_from AS VARCHAR) AS state_since
    FROM p LEFT JOIN dim d
      ON d.user_id = p.user_id
     AND d.valid_from <= p.ts
     AND (d.valid_to IS NULL OR p.ts < d.valid_to)
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time (AS OF) join — the consumption side of
    ``scd2_intervals``: each purchase picks up the dimension state
    (latest signup/error status change) that was valid AT its
    timestamp, the canonical "fact joins history, not current" pattern.

    A PIT lookup against non-overlapping validity intervals is exactly
    an as-of join, so the plan reuses the tagged-union carry-forward
    operator (one shuffle on the key, linear scan — no interval-range
    join blowup); the oracle states the textbook BETWEEN-validity
    formulation over the LEAD-built intervals and the hash match proves
    the equivalence. States at the exact purchase timestamp count
    (valid_from <= ts), matching the carry-forward's tie order.
    """
    ev = load_table(spark, sf_dir, "events")
    dim = ev.filter(F.col("event_type").isin("signup", "error")).select(
        "user_id", "ts", F.col("event_type").alias("state")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        p, dim, key="user_id", left_ts="ts", right_ts="ts",
        right_payload=["state", "ts"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("ts").cast("string").alias("purchase_ts"),
        F.col("r_state").alias("state"),
        F.col("r_ts").cast("string").alias("state_since"),
    )


@query(
    "f2b_topk_with_ties",
    oracle="""
    WITH r AS (
      SELECT o_orderkey, o_totalprice,
             DENSE_RANK() OVER (ORDER BY FLOOR(o_totalprice / 1000) DESC)
               AS dr
      FROM orders
    )
    SELECT o_orderkey, o_totalprice, CAST(dr AS BIGINT) AS dr
    FROM r WHERE dr <= 3
    """,
)
def f2b_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 completion: top-k WITH TIES — everything in the top 3 price
    BANDS (dense_rank over the coarsened key) rather than an arbitrary
    row cutoff; the semantics of ANSI FETCH FIRST ... WITH TIES, which
    Spark lacks as syntax but expresses as a rank filter. The coarse
    band (floor/1000) manufactures real ties so the variable-size
    result is exercised. One global window — at 100 TB pre-filter with
    an approximate threshold first (f2's TakeOrdered shape), then rank
    only the survivors.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.desc(F.floor(F.col("o_totalprice") / 1000)))
    return (
        o.select(
            "o_orderkey",
            "o_totalprice",
            F.dense_rank().over(w).cast("long").alias("dr"),
        )
        .filter(F.col("dr") <= 3)
    )
