"""End-to-end training-data pipeline compositions (the north-star use
case): deterministic dataset splitting and full corpus-curation passes
built ONLY from the engine's own operators — each stage is the one
definition in operators/text.py (``exact_dedup``, ``quality_cols``,
``word_ngrams``, ``mixture_keep``, ``EVAL_MOD``) — proving the pieces
compose into the pipeline a 100 TB pre-training corpus runs through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.functions.canonical import grid_avg
from etl_data_pipeline_spark.operators.text import (
    EVAL_MOD,
    exact_dedup,
    md5_hash32,
    mixture_keep,
    quality_cols,
    word_ngrams,
)
from etl_data_pipeline_spark.plans.registry import query


@query(
    "hash_split",
    oracle="""
    WITH b AS (
      SELECT lang, n_chars,
             ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
               AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1, 2
    """,
)
def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-stable hash bucket
    (80/10/10). Hash-of-key assignment is reproducible across runs,
    engines, and cluster sizes — the only split discipline that survives
    a 100 TB corpus being re-sharded (row_number or rand() both break).
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_hash32(F.col("doc_id").cast("string")) % 100
    return (
        d.select(
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split"),
            "lang",
            "n_chars",
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "corpus_curation",
    oracle="""
    WITH dedup AS (
      SELECT doc_id, text, lang, source, n_chars
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY SHA256(text)
                                         ORDER BY doc_id) AS rn
            FROM documents)
      WHERE rn = 1
    ), q AS (
      SELECT lang, source,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 x -> x IN ('the', 'a'))) AS n_stop
      FROM dedup
    ), scored AS (
      SELECT lang, source, n_tokens,
             0.5 * (n_distinct / CAST(n_tokens AS DOUBLE))
             + 0.3 * (1.0 - n_stop / CAST(n_tokens AS DOUBLE))
             + 0.2 * (CASE WHEN n_tokens >= 30 THEN 1.0
                           ELSE n_tokens / 30.0 END) AS quality
      FROM q
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           SUM(CAST(FLOOR(quality * 1000000) AS BIGINT)) / 1000000.0 / COUNT(*)
             AS avg_quality,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM scored
    WHERE quality >= 0.7 AND n_tokens >= 20
    GROUP BY lang, source
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation pipeline: ``exact_dedup`` (content hash,
    keep-min) -> ``quality_cols`` (type/token + stopword + length
    heuristics) -> threshold filter -> per-(lang, source) corpus stats.
    One DAG, three shuffles (hash dedup, none for scoring — it is
    row-local — and the final slice agg); at 100 TB the dedup shuffle
    dominates and shards by content hash.
    """
    d = load_table(spark, sf_dir, "documents")
    _, _, quality = quality_cols()
    scored = exact_dedup(d).select(
        "lang",
        "source",
        F.size(F.split("text", " ")).alias("n_tokens"),
        quality.alias("quality"),
    )
    return (
        scored.filter((F.col("quality") >= 0.7) & (F.col("n_tokens") >= 20))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            grid_avg(F.col("quality")).alias("avg_quality"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@query(
    "pretrain_corpus",
    oracle="""
    WITH dedup AS (
      SELECT doc_id, lang, source, text
      FROM (
        SELECT d.*, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id)
                 AS rn
        FROM documents d
      ) WHERE rn = 1
    ), dd AS (
      SELECT doc_id, lang, source, STRING_SPLIT(text, ' ') AS s FROM dedup
    ), idx AS (
      SELECT doc_id, s, UNNEST(GENERATE_SERIES(1, LEN(s) - 2)) AS i FROM dd
    ), sh AS (
      SELECT DISTINCT doc_id, ARRAY_TO_STRING(s[i:i+2], ' ') AS sh FROM idx
    ), ev AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0
    ), contaminated AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN ev ON s.sh = ev.sh
      WHERE s.doc_id % 97 != 0
    ), clean AS (
      SELECT * FROM dd
      WHERE doc_id % 97 != 0
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), sampled AS (
      SELECT * FROM clean
      WHERE (doc_id * 2654435761) % 4294967296 / 4294967296.0
            < CASE lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.5
                        WHEN 'fr' THEN 0.5 WHEN 'es' THEN 0.25
                        WHEN 'zh' THEN 0.1 ELSE 0.05 END
    )
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(LEN(s)) AS BIGINT) AS total_tokens
    FROM sampled GROUP BY lang, source
    """,
)
def pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pretraining-corpus builder — the four curation stages
    a real LLM data pipeline chains, as ONE exact-oracle DAG:

    1. exact dedup: ``exact_dedup``'s content-hash keep-min (one shuffle
       on sha2(text));
    2. decontamination: drop eval docs (doc_id % ``EVAL_MOD`` == 0) and
       every training doc sharing a ``word_ngrams`` trigram with them
       (broadcast semi-join against the tiny eval shingle set);
    3. mixture sampling: ``mixture_keep``'s per-language acceptance
       (stateless map);
    4. corpus fingerprint: per-(lang, source) doc + token totals.

    Scale: the dedup shuffle dominates and shards by content hash; the
    contamination probe never shuffles the corpus (broadcast); sampling
    is shuffle-free; the final agg reduces to |lang x source| rows. The
    oracle replays every stage in SQL (dedup partitions by raw text
    where Spark hashes it first — same keep-min survivor either way),
    so the driver hash pins the WHOLE pipeline, not one operator."""
    d = load_table(spark, sf_dir, "documents")
    dedup = exact_dedup(d).withColumn("s", F.split("text", " "))
    sh = dedup.select("doc_id", F.explode(word_ngrams(3)).alias("sh")).distinct()
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev = sh.filter(is_eval).select("sh").distinct()
    contaminated = (
        sh.filter(~is_eval).join(F.broadcast(ev), "sh").select("doc_id").distinct()
    )
    clean = dedup.filter(~is_eval).join(contaminated, "doc_id", "left_anti")
    return (
        clean.filter(mixture_keep())
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("s")).cast("long").alias("total_tokens"),
        )
    )


@query(
    "sales_mart",
    oracle="""
    WITH dim_cust AS (
      SELECT c_custkey, c_mktsegment, n_name, r_name
      FROM customer
      JOIN nation ON n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n_regionkey
    ), fact AS (
      SELECT o.o_orderkey,
             STRFTIME(o.o_orderdate, '%Y-%m') AS order_month,
             d.r_name, d.c_mktsegment,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(38,4)) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN dim_cust d ON d.c_custkey = o.o_custkey
      WHERE o.o_orderstatus IN ('O', 'F', 'P')
    )
    SELECT order_month, r_name, c_mktsegment,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(rev) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(rev * 10000 AS BIGINT)) AS BIGINT)
             // CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
             AS rev_per_order_dmil
    FROM fact
    GROUP BY order_month, r_name, c_mktsegment
    """,
)
def sales_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END warehouse mart build — the classic nightly ETL DAG of
    this repo's reference category, as one declarative pipeline:
    (1) conform the snowflake (customer->nation->region flattened into a
    broadcastable dim), (2) validate facts (status domain gate — the
    dq_expectations rule inlined as a filter), (3) build the fact grain
    (lineitem x orders on the order key — the DAG's only corpus-wide
    shuffle), (4) aggregate the mart: monthly revenue by region x
    market segment with order/line counts and revenue-per-order.

    This is ``pretrain_corpus``'s sibling for the relational leg: many
    stages, ONE plan, so Catalyst prunes columns through every join and
    AQE sizes the fact shuffle. Money follows the house rule (exact
    DECIMAL sums, cast once); revenue-per-order is exact integer
    division on the 1e-4 grid (dec-mils per order). Dims broadcast; the
    mart output is O(months x regions x segments).
    """
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dim_cust = (
        c.join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .join(r, F.col("r_regionkey") == F.col("n_regionkey"))
        .select("c_custkey", "c_mktsegment", "n_name", "r_name")
    )
    rev = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ).cast("decimal(38,4)")
    fact = (
        li.join(
            o.filter(F.col("o_orderstatus").isin("O", "F", "P")),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(F.broadcast(dim_cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            "r_name",
            "c_mktsegment",
            rev.alias("rev"),
        )
    )
    return fact.groupBy("order_month", "r_name", "c_mktsegment").agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("rev").cast("double").alias("revenue"),
        F.expr(
            "sum(CAST(rev * 10000 AS BIGINT)) div count(DISTINCT o_orderkey)"
        ).alias("rev_per_order_dmil"),
    )


@query(
    "ivm_incremental_agg",
    oracle="""
    SELECT STRFTIME(o_orderdate, '%Y-%m') AS order_month,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders
    GROUP BY 1, 2
    """,
)
def ivm_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the mart aggregate is NOT
    recomputed from the full table — a pre-existing base aggregate
    (orders with o_orderkey % 10 != 0, standing in for yesterday's
    materialized state) merges with the aggregate of today's DELTA
    (the remaining rows) by summing partial states. The oracle is the
    full-table recompute, so the driver hash-checks the IVM identity
    ``merge(agg(base), agg(delta)) == agg(base UNION delta)`` exactly.

    Only self-decomposable aggregates participate (COUNT/SUM — partial
    states add; distinct counts would need a sketch or a keyed state).
    Money stays in exact DECIMAL(18,2) through BOTH partial aggregates
    and the merge, cast to double once at the end — associativity of
    the decimal sum is what makes the identity exact. Scale: the daily
    cost is O(delta) + O(|mart|), never O(history); this is the
    pattern that keeps a 100 TB mart's refresh inside an SLA.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("tp"),
    )
    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("order_month", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("tp").alias("rev_dec"),
        )

    base = partial(o.filter(F.col("o_orderkey") % 10 != 0))
    delta = partial(o.filter(F.col("o_orderkey") % 10 == 0))
    merged = (
        base.unionByName(delta)
        .groupBy("order_month", "o_orderstatus")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("rev_dec").alias("rev_dec"),
        )
    )
    return merged.select(
        "order_month",
        "o_orderstatus",
        "n_orders",
        F.col("rev_dec").cast("double").alias("revenue"),
    )
