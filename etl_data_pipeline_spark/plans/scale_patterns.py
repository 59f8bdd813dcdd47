"""Scale-pattern operators: two queries whose POINT is a 100 TB
execution pattern:

- ``a18_parquet_stats`` — distributed metadata-only introspection:
  answer per-file questions (row counts, column counts) from parquet
  FOOTERS alone, without scanning a single data page.  At 100 TB the
  difference between "count the rows" as a footer read (KB/file) and a
  table scan is four orders of magnitude of IO; this is also the
  primitive behind compaction planning (a13) and stats-driven file
  skipping (a14).
- ``decontaminate_bloom`` — the two-phase bloom-pruned join: when the
  build side of a semi-join is too large to broadcast (a multi-GB eval
  shingle set at production scale), broadcast a FIXED-SIZE bloom bitmap
  instead, discard the overwhelming non-matching majority at scan
  speed, and run the exact confirm join only over the surviving
  candidates.  False positives cost a little confirm work; false
  negatives are impossible, so the result is EXACT — same oracle,
  ``DECONTAMINATE_ORACLE``, as the plain ``decontaminate``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_data_pipeline_spark.catalog import TABLES, load_table, table_path
from etl_data_pipeline_spark.operators.text import EVAL_MOD, word_ngrams
from etl_data_pipeline_spark.plans.registry import query

_STATS_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS tbl, COUNT(*) AS n_rows,"
    f" (SELECT COUNT(*) FROM (DESCRIBE SELECT * FROM {t})) AS n_cols"
    f" FROM {t}"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
)


@query("a18_parquet_stats", oracle=_STATS_ORACLE)
def a18_parquet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: parquet footer introspection — per-table row/column counts
    read from FILE METADATA only (no data pages touched).

    The file list is distributed as a DataFrame and each task opens
    only the footers of its files via pyarrow (``ParquetFile(...).
    metadata`` seeks to the footer; data pages are never read), so the
    operator scales with file COUNT, not byte size — at 100 TB /
    ~100k files this is a trivially parallel metadata sweep where a
    COUNT(*) scan would be a full-table read.  The oracle COUNTS the
    actual rows (DuckDB), so a footer whose claimed num_rows disagreed
    with the data would hash-mismatch — the check is "footer stats are
    trustworthy", which is precisely what stats-driven skipping (a14)
    and compaction planning (a13) rely on.  The row-group count is
    deliberately NOT in the output (no view-level oracle for it);
    tests/test_operators.py asserts it directly against pyarrow.
    """
    paths = [(t, table_path(sf_dir, t)) for t in TABLES]
    files = spark.createDataFrame(paths, "tbl string, path string").repartition(
        len(paths), "tbl"
    )

    def read_footers(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        # n_cols counts TOP-LEVEL fields of the footer's arrow schema,
        # not metadata.num_columns (ADVICE r11): num_columns is the
        # LEAF-column count, which equals the logical column count only
        # while every schema is flat — the first struct/nested column
        # would make it diverge from the oracle's DESCRIBE count.  The
        # arrow schema is decoded from the same footer bytes, so the
        # operator stays metadata-only.
        for pdf in it:
            rows = [
                (t, f.metadata.num_rows, len(f.schema_arrow))
                for t, p in zip(pdf["tbl"], pdf["path"])
                for f in (pq.ParquetFile(p),)
            ]
            yield pd.DataFrame(rows, columns=["tbl", "n_rows", "n_cols"])

    return files.mapInPandas(
        read_footers, "tbl string, n_rows long, n_cols long"
    )


#: 2^20-bit bloom filter: 4 probe positions from non-overlapping
#: 5-hex-char md5 slices (each < 16^5 = 2^20 exactly, so no modulo and
#: therefore no modulo-bias asymmetry between engines); bits are packed
#: into 63-bit BIGINT words like plans/sketches.py's 4096-bit filter.
#: Sizing: ~27k eval shingles at sf1 -> load 4*27k/2^20 = 0.10 ->
#: FP rate (1 - e^-0.10)^4 ~ 8e-5; even 100x more keys only degrades
#: the PRUNE (FP -> more confirm work), never the RESULT.
_B20_PROBES = 4
_B20_WORD_BITS = 63


def _b20_word_bit(hex_col, i: int) -> tuple:
    pos = F.conv(F.substring(hex_col, 1 + 5 * i, 5), 16, 10).cast("long")
    return (
        F.floor(pos / _B20_WORD_BITS).cast("long"),
        (pos % _B20_WORD_BITS).cast("int"),
    )


#: Oracle of ``decontaminate`` (plans/curation.py) and
#: ``decontaminate_bloom``: per training doc, the number of distinct word
#: trigrams it shares with the eval slice (doc_id % 97 == 0).
DECONTAMINATE_ORACLE = """
    WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS s FROM documents),
    idx AS (
      SELECT doc_id, s, UNNEST(GENERATE_SERIES(1, LEN(s) - 2)) AS i FROM d
    ),
    sh AS (
      SELECT DISTINCT doc_id, ARRAY_TO_STRING(s[i:i+2], ' ') AS sh FROM idx
    ),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
    SELECT s.doc_id, COUNT(DISTINCT s.sh) AS n_shared
    FROM sh s JOIN ev ON s.sh = ev.sh
    WHERE s.doc_id % 97 != 0
    GROUP BY s.doc_id
    """


@query("decontaminate_bloom", oracle=DECONTAMINATE_ORACLE)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned decontamination: EXACTLY ``decontaminate``'s answer
    (same oracle SQL) through the two-phase plan that survives an
    un-broadcastable eval set.

    Phase 1 builds a 2^20-bit bloom bitmap over the eval shingles —
    deterministic DataFrame bit math (md5-slice positions, bit_or word
    packing), ~16k BIGINT rows regardless of eval-set cardinality, so
    it broadcasts at ANY scale where the eval shingle SET itself (the
    thing ``decontaminate`` broadcasts) would not.  Phase 2 probes
    every training shingle through the bitmap with 4 chained
    broadcast-hash lookups (no shuffle, no row fan-out: each probe is
    a word-keyed join against the 16k-row bitmap); a shingle survives
    only if all 4 bits are set, which discards the non-matching
    majority at scan speed with zero false negatives.  Phase 3 runs
    the exact confirm join (shuffle join on the shingle — deliberately
    NOT broadcast-hinted, because at the target scale the eval side
    does not broadcast; AQE may still choose broadcast at test sf) over
    the tiny candidate set, which removes bloom false positives — so
    the output is exact and the bitmap only ever changes COST, never
    the answer.  A missing word row means no bit in that word was ever
    set, so a null probe is a definite miss (coalesce to 0), not an
    error.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(word_ngrams(3)).alias("sh"))
        .distinct()
    )
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev = d.filter(is_eval).select("sh").distinct()

    evh = ev.select(F.md5("sh").alias("h"))
    parts = []
    for i in range(_B20_PROBES):
        w, b = _b20_word_bit(F.col("h"), i)
        parts.append(evh.select(w.alias("word"), b.alias("bit")))
    ev_bits = parts[0]
    for p in parts[1:]:
        ev_bits = ev_bits.unionAll(p)
    bloom = (
        ev_bits.distinct()
        .groupBy("word")
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).alias("wbits")
        )
    )

    probe = d.filter(~is_eval).withColumn("h", F.md5("sh"))
    for i in range(_B20_PROBES):
        w, b = _b20_word_bit(F.col("h"), i)
        side = bloom.select(
            F.col("word").alias(f"_w{i}"), F.col("wbits").alias(f"_wb{i}")
        )
        probe = (
            probe.withColumn(f"_w{i}", w)
            .withColumn(f"_b{i}", b)
            .join(F.broadcast(side), f"_w{i}", "left")
            .withColumn(
                f"_hit{i}",
                F.coalesce(
                    (
                        F.col(f"_wb{i}").bitwiseAND(
                            F.expr(f"shiftleft(CAST(1 AS BIGINT), _b{i})")
                        )
                        != 0
                    ).cast("int"),
                    F.lit(0),
                ),
            )
        )
    candidates = probe.filter(
        sum(F.col(f"_hit{i}") for i in range(_B20_PROBES)) == _B20_PROBES
    ).select("doc_id", "sh")

    return (
        candidates.join(ev, "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
    )

