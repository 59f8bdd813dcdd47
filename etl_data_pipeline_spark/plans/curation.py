"""Corpus-curation queries — the training-data pipeline completions on
top of the I-family primitives: near-dup CLUSTERING (pairs -> connected
components -> canonical doc), deterministic mixture sampling, sequence
packing, PII redaction, and compressed-domain (int8) ANN with exact
re-rank.

Oracle parity notes: component ids come from a DuckDB recursive CTE over
the SAME verified LSH pair set as i4b (shared CTE body,
plans/text.py::MINHASH_LSH_BODY); sampling uses a pure-integer Knuth
multiplicative hash (exact in both engines); quantized cosine is a ratio
of integers so it is EXACTLY cross-engine reproducible (see
operators/similarity.py::quantize_embeddings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.operators.graph import connected_components_star
from etl_data_pipeline_spark.operators.similarity import quantized_rerank
from etl_data_pipeline_spark.operators.text import (
    EVAL_MOD,
    SIMHASH_BITS,
    md5_hash32,
    minhash_lsh_pairs,
    mixture_keep,
    simhash_neardup_pairs,
    word_ngrams,
)
from etl_data_pipeline_spark.plans.registry import query
from etl_data_pipeline_spark.plans.scale_patterns import DECONTAMINATE_ORACLE
from etl_data_pipeline_spark.plans.text import MINHASH_LSH_BODY
from etl_data_pipeline_spark.materialize import materialize, cut_lineage


@query(
    "neardup_clusters",
    oracle="WITH RECURSIVE "
    + MINHASH_LSH_BODY
    + """,
    edges AS MATERIALIZED (
      SELECT a, b FROM lsh_pairs
      UNION ALL
      SELECT b AS a, a AS b FROM lsh_pairs
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS doc_id,
           MIN(dst) AS component,
           MIN(dst) = src AS is_canonical
    FROM reach GROUP BY src
    """,
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup completion: near-duplicate CLUSTERS, not just pairs.  The
    verified LSH pairs are closed into connected components by the
    alternating large-star / small-star rounds of Kiveris et al.,
    "Connected Components in MapReduce and Beyond" (SOCC'14) — see
    operators/graph.py::connected_components_star: O(log diameter)
    rounds of the same join/groupBy primitives, where min-label
    propagation needs diameter(component) rounds.

    One row per document: (doc_id, component, is_canonical), where
    ``component`` is the cluster's min doc_id (singletons are their own
    component) and ``is_canonical`` marks that min doc: filtering it IS
    the near-dup dedup.  The oracle computes the same components via a
    recursive CTE over the identical verified pair set (shared CTE body
    with i4b_minhash_lsh, including the band-bucket cap that diverts
    boilerplate buckets)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.5)
    edges = pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
    assignments, _ = connected_components_star(edges, max_iters=25)
    labels = d.select("doc_id").join(
        assignments.select(F.col("u").alias("doc_id"), "component"),
        "doc_id",
        "left",
    )
    return labels.select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component"),
    ).withColumn("is_canonical", F.col("component") == F.col("doc_id"))


@query(
    "mixture_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE (doc_id * 2654435761) % 4294967296 / 4294967296.0 <
          CASE lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.5
                    WHEN 'fr' THEN 0.5 WHEN 'es' THEN 0.25
                    WHEN 'zh' THEN 0.1 ELSE 0.05 END
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: per-language acceptance rates applied
    via a deterministic Knuth multiplicative hash of doc_id — pure
    integer arithmetic, so the sample is reproducible across engines,
    runs, AND repartitions (rand(seed) is per-partition in Spark and
    would not be).  At 100 TB this is a stateless map over the scan —
    no shuffle, trivially resumable; re-weighting the mixture is a
    literal change, not a new shuffle.  Production id spaces beyond
    ~2^31 ids should swap the LCG for xxhash64(doc_id) & mask (same
    shape; kept SQL-reproducible here)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(mixture_keep()).select("doc_id", "lang", "source")


@query(
    "pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
    ), packed AS (
      SELECT lang, doc_id, n_tok,
             CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - n_tok) / 256.0) AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT lang, pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM packed GROUP BY lang, pack_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing planner: concatenate each language's docs in
    doc_id order and cut 256-token packs by START OFFSET (pack_id =
    floor(preceding_tokens / budget)) — one running-sum window, fully
    JVM-side, exact SQL parity.  Docs may straddle a boundary, exactly
    like LLM pretraining packing with document spillover.

    Scale: a single ORDER BY doc_id window per language would bottleneck
    on the biggest language at 100 TB — shard the partition key to
    (lang, doc_id bucket) and offset each shard by the exclusive prefix
    total of the preceding shards (one tiny agg + broadcast), which
    preserves these exact pack ids.  The greedy close-when-full variant
    (no straddling) is the same window plus applyInPandas per shard."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "pack_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(256.0)).cast(
            "long"
        ),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


@query(
    "redact_pii",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-555-'
                    || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE '' END AS raw_text
      FROM documents
    )
    SELECT doc_id,
           REGEXP_REPLACE(REGEXP_REPLACE(raw_text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS masked,
           REGEXP_REPLACE(REGEXP_REPLACE(raw_text,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g')
             != raw_text AS redacted
    FROM raw
    """,
)
def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: global regexp_replace of email + phone patterns.
    Deterministic PII is injected into every 7th doc inside the query
    (both engines build the identical raw text), so the masking does
    real work and the oracle checks actual replacements, not no-ops.
    Stateless map over the scan — no shuffle at any scale; patterns kept
    to the regex subset Java and RE2 interpret identically."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    masked = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        masked.alias("masked"),
        (masked != raw).alias("redacted"),
    )


@query(
    "i6c_quantized_rerank",
    oracle="""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> FLOOR(x * 127.0
                          / (CASE WHEN m = 0 THEN 1.0 ELSE m END)
                          + 0.5)) AS qe
      FROM (SELECT vec_id, embedding,
                   list_aggregate(
                     list_transform(CAST(embedding AS DOUBLE[]),
                                    x -> ABS(x)), 'max') AS m
            FROM embeddings) s
    ), qp AS (
      SELECT a.vec_id AS q, b.vec_id AS n,
             ROUND(list_inner_product(a.qe, b.qe)
               / SQRT(list_inner_product(a.qe, a.qe)
                    * list_inner_product(b.qe, b.qe)), 6) AS qcos
      FROM qv a JOIN qv b ON a.vec_id != b.vec_id
    ), cand AS (
      SELECT q, n FROM (
        SELECT q, n,
               ROW_NUMBER() OVER (PARTITION BY q ORDER BY qcos DESC, n) AS rn
        FROM qp)
      WHERE rn <= 20
    ), rr AS (
      SELECT c.q AS vec_id, c.n AS neighbor,
             ROUND(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[]))
               / SQRT(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                         CAST(a.embedding AS DOUBLE[]))
                    * list_inner_product(CAST(b.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))), 6)
               AS cosine
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.q
      JOIN embeddings b ON b.vec_id = c.n
    )
    SELECT vec_id, neighbor, cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                    ORDER BY cosine DESC, neighbor) AS rn FROM rr)
    WHERE rn <= 3
    """,
)
def i6c_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 compressed-domain path: int8-quantized blocked-kernel candidate
    generation (top-20 per query by quantized cosine — exactly
    cross-engine reproducible integer math), then exact float cosine
    re-rank to top-3.  The production two-stage retrieval shape; see
    operators/similarity.py::quantized_rerank for the scale story."""
    e = load_table(spark, sf_dir, "embeddings")
    return quantized_rerank(e, k=3, n_cand=20)


@query(
    "stratified_sample",
    oracle="""
    SELECT doc_id, lang, rn FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
               ('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
               doc_id) AS rn
      FROM documents) t
    WHERE rn <= 25
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sampling: rank docs within each language by
    the cross-engine md5 hash of doc_id (a deterministic 'random' order)
    and keep the first 25 — reservoir-sampling semantics without RNG
    state, reproducible across engines and repartitions.

    Scale: ROW_NUMBER sorts each stratum in one task; at 100 TB
    pre-filter with an approximate hash threshold (keep hash < k/N *
    2^32 * slack — a stateless map that discards ~all of the stratum)
    and rank only the survivors, which bounds the per-stratum sort to
    ~k * slack rows."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        md5_hash32(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 25)
    )


@query(
    "pack_greedy",
    oracle="""
    WITH RECURSIVE d AS (
      SELECT doc_id, lang, LEN(STRING_SPLIT(text, ' ')) AS n_tok,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ), g(lang, rn, n_tok, pack_id, fill) AS (
      SELECT lang, rn, n_tok, CAST(0 AS BIGINT), n_tok
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.lang, d.rn, d.n_tok,
             CASE WHEN g.fill + d.n_tok > 256
                  THEN g.pack_id + 1 ELSE g.pack_id END,
             CASE WHEN g.fill + d.n_tok > 256
                  THEN d.n_tok ELSE g.fill + d.n_tok END
      FROM g JOIN d ON d.lang = g.lang AND d.rn = g.rn + 1
    )
    SELECT lang, pack_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM g GROUP BY lang, pack_id
    """,
)
def pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy close-when-full sequence packing (no document straddles a
    pack): docs stream in doc_id order per language; a pack closes when
    the next doc would overflow the 256-token budget. The running reset
    makes this inherently sequential per stratum — exactly what
    ``applyInPandas`` per language expresses (state never leaves the
    task); the oracle replays the same recurrence as a row-recursive
    CTE.  Complements ``pack_sequences`` (offset packing, pure window).

    Scale: shard the group key to (lang, doc_id bucket) — greedy runs
    per shard, pack ids are (shard, local id) pairs, and the boundary
    cost is at most one underfilled pack per shard."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        pid, fill, first = 0, 0, True
        ids = []
        for t in pdf["n_tok"]:
            if not first and fill + t > 256:
                pid += 1
                fill = t
            else:
                fill += t
            first = False
            ids.append(pid)
        pdf = pdf.assign(pack_id=ids)
        return pdf

    packed = toks.groupBy("lang").applyInPandas(
        pack, schema="doc_id long, lang string, n_tok long, pack_id long"
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("pack_tokens"),
    )


@query(
    "simhash_neardup",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
      ) GROUP BY doc_id, token
    ), th AS (
      SELECT doc_id, tf, ('0x' || SUBSTR(MD5(token), 1, 8))::BIGINT AS h
      FROM tf
    ), votes AS (
      SELECT doc_id, j.range AS j,
             SUM(tf * ((CAST(FLOOR(h / POW(2, j.range)) AS BIGINT) % 2) * 2
                       - 1)) AS v
      FROM th, RANGE({SIMHASH_BITS}) j
      GROUP BY doc_id, j.range
    ), sh AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN CAST(POW(2, j) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup family: SimHash near-dup PAIRS via Hamming-band LSH — the
    fourth dedup modality (exact sha / MinHash-Jaccard / n-gram Jaccard
    / SimHash-Hamming), completing the fingerprint into an actual
    pair-finder. 32-bit fingerprints split into 4 bands of 8 bits;
    docs sharing any band are candidates (equi-join, one shuffle);
    pairs within Hamming distance 3 survive. Pigeonhole makes the
    banding EXACT for distance <= 3 (< bands), so the oracle — a
    brute-force all-pairs scan, affordable only at test scale — must
    agree pair-for-pair with the banded plan that runs at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    return simhash_neardup_pairs(d, max_hamming=3)


@query("decontaminate", oracle=DECONTAMINATE_ORACLE)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the LLM-pipeline gate that flags
    training documents sharing verbatim n-grams with a held-out eval
    set (here: docs with doc_id % 97 == 0 stand in for the benchmark;
    word TRIGRAMS stand in for the usual 8-13-grams because this
    synthetic corpus is near-maximum-entropy).

    Plan shape at 100 TB: the eval side distills to a DISTINCT shingle
    set that is tiny relative to the corpus (benchmarks are small), so
    Spark broadcasts it and the check is a broadcast semi-join over the
    exploded training shingles — no full shuffle of the corpus; output
    is per-doc shared-shingle counts for threshold/audit downstream.

    The trigrams are ``word_ngrams``' (shared with
    ``decontaminate_bloom`` and ``pretrain_corpus``).
    """
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(word_ngrams(3)).alias("sh")).distinct()
    is_eval = F.col("doc_id") % EVAL_MOD == 0
    ev = sh.filter(is_eval).select("sh").distinct()
    return (
        sh.filter(~is_eval)
        .join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
    )


@query(
    "frequent_ngrams",
    oracle="""
    WITH d AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS s FROM documents),
    idx AS (
      SELECT doc_id, s, UNNEST(GENERATE_SERIES(1, LEN(s) - 1)) AS i FROM d
    ),
    bg AS (SELECT ARRAY_TO_STRING(s[i:i+1], ' ') AS sh FROM idx),
    cnt AS (SELECT sh, COUNT(*) AS n FROM bg GROUP BY sh)
    SELECT sh, n FROM cnt
    ORDER BY n DESC, sh
    LIMIT 20
    """,
)
def frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top-20 word bigrams by occurrence (ties
    broken lexically so the top-k is total-ordered). The scale shape is
    partial-agg -> shuffle on the ngram -> TakeOrderedAndProject: the
    map-side combine absorbs the duplicate mass, and only per-partition
    top candidates reach the driver. The exact-top-k baseline that a
    count-min/Misra-Gries sketch would approximate on a stream."""
    d = load_table(spark, sf_dir, "documents")
    bg = d.select(F.explode(word_ngrams(2)).alias("sh"))
    return (
        bg.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("sh"))
        .limit(20)
    )


@query(
    "gopher_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(string_split(text, ' ')) AS tok,
             UNNEST(GENERATE_SERIES(1, len(string_split(text, ' ')))) AS pos
      FROM documents
    ), big AS (
      SELECT doc_id,
             tok || ' ' || LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos)
               AS bg
      FROM toks
    ), bgc AS (
      SELECT doc_id, bg, COUNT(*) AS c
      FROM big WHERE bg IS NOT NULL GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(2 * MAX(c) AS DOUBLE) / (SUM(c) + 1) AS top_bigram_frac,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
             AS dup_bigram_frac,
           2.0 * MAX(c) / (SUM(c) + 1) <= 0.10
             AND CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                 / SUM(c) <= 0.10 AS keep
    FROM bgc GROUP BY doc_id
    """,
)
def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/C4 rule family):
    per-document fraction of token mass inside (a) the single most
    frequent bigram and (b) all bigrams occurring more than once; docs
    above either threshold are repetition spam and flagged drop. Both
    stats are exact integer ratios (one IEEE division each), so the
    doubles are bit-identical cross-engine. Bigrams are built JVM-side
    with ``word_ngrams`` (no per-doc window sort, no Python); the only
    shuffles are groupBy (doc_id, bigram) then doc_id — both scale-free
    of corpus width. Thresholds sit at this corpus's median so the flag
    genuinely partitions the data."""
    d = load_table(spark, sf_dir, "documents")
    bg = d.select("doc_id", F.explode(word_ngrams(2)).alias("bg"))
    bgc = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    per = bgc.groupBy("doc_id").agg(
        (
            (2 * F.max("c")).cast("double") / (F.sum("c") + 1)
        ).alias("top_bigram_frac"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast(
                "double"
            )
            / F.sum("c")
        ).alias("dup_bigram_frac"),
    )
    return per.select(
        "doc_id",
        "top_bigram_frac",
        "dup_bigram_frac",
        (
            (F.col("top_bigram_frac") <= 0.10)
            & (F.col("dup_bigram_frac") <= 0.10)
        ).alias("keep"),
    )


@query(
    "segment_dedup",
    oracle="""
    WITH docs AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), chunks AS (
      SELECT doc_id,
             UNNEST(GENERATE_SERIES(0, (len(toks) - 1) // 20)) AS cpos,
             toks
      FROM docs
    ), seg AS (
      SELECT doc_id, cpos,
             array_to_string(toks[cpos * 20 + 1 : cpos * 20 + 20], ' ')
               AS chunk
      FROM chunks
    ), ranked AS (
      SELECT doc_id, cpos, chunk,
             ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, cpos)
               AS rn
      FROM seg
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           COUNT(*) FILTER (rn = 1) AS n_kept,
           md5(COALESCE(STRING_AGG(chunk, ' ' ORDER BY cpos)
                          FILTER (rn = 1), '')) AS clean_md5
    FROM ranked
    GROUP BY doc_id
    """,
)
def segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup with reassembly — the
    boilerplate-removal pass real pretrain pipelines run between
    doc-level dedup and tokenization. Documents are cut into 20-token
    segments; a segment instance survives only if it is the corpus-wide
    FIRST occurrence (min (doc_id, position) — deterministic, not
    arbitrary); survivors are stitched back in document order. Emits
    per-doc before/after counts plus an md5 of the cleaned text so the
    oracle certifies the reassembled STRING, not just counts. One
    shuffle on segment text (the dedup), one on doc_id (the rebuild) —
    both hash-partitioned, no skew beyond natural segment popularity,
    which the first-occurrence window absorbs because popular segments
    still land on one reducer only once per distinct value at rank
    time. A fully-boilerplate doc keeps zero segments and exits with
    n_kept = 0 and the md5 of the empty string."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    seg = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, CAST(floor((size(toks) - 1) / 20)"
                " AS INT)), i -> array_join(slice(toks, i * 20 + 1, 20), ' '))"
            )
        ).alias("cpos", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "cpos")
    ranked = seg.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(F.when(F.col("rn") == 1, True)).alias("n_kept"),
        F.md5(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("rn") == 1,
                                    F.struct("cpos", "chunk"),
                                )
                            )
                        ),
                        lambda s: s["chunk"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).cast("binary")
        ).alias("clean_md5"),
    )


@query(
    "global_shuffle",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5('seed42:' || CAST(doc_id AS VARCHAR)) AS k
      FROM documents
    )
    SELECT doc_id, substr(k, 1, 2) AS bucket,
           ROW_NUMBER() OVER (PARTITION BY substr(k, 1, 2)
                              ORDER BY k, doc_id) AS pos_in_bucket
    FROM keyed
    """,
)
def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle — the final pass before
    training-data sharding: every doc gets a reproducible pseudo-random
    position, so re-running the pipeline yields byte-identical shards.
    Key = md5(seed || doc_id) (identical hex in every engine; change
    the seed string to re-shuffle). The total order is (bucket =
    first key byte, rank within bucket): 256 independent range
    partitions each locally sorted — the scalable form of a global
    sort (this IS repartitionByRange + sortWithinPartitions expressed
    checkably; a single global row_number would serialize on one
    reducer). Ranking int cast to long for cross-engine dtype parity."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(
            F.concat(F.lit("seed42:"), F.col("doc_id").cast("string")).cast(
                "binary"
            )
        ).alias("k"),
    )
    w = Window.partitionBy(F.substring("k", 1, 2)).orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        F.substring("k", 1, 2).alias("bucket"),
        F.row_number().over(w).cast("long").alias("pos_in_bucket"),
    )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
                lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),
                ' +', ' ', 'g')) AS norm_text,
           len(trim(regexp_replace(
                lower(regexp_replace(text, '[^a-zA-Z0-9 ]', ' ', 'g')),
                ' +', ' ', 'g'))) AS norm_len
    FROM documents
    WHERE doc_id % 5 = 0
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the pass that runs BEFORE exact
    dedup so near-identical whitespace/punctuation variants hash equal:
    strip non-alphanumerics to spaces, lowercase, collapse runs of
    spaces, trim. Pure JVM regexp/codegen string ops, embarrassingly
    parallel (no shuffle at all) — at 100 TB this pipelines inside the
    scan stage. The oracle certifies the exact normalized string, not a
    summary."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    norm = F.trim(
        F.regexp_replace(
            F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", " ")),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("norm_len"),
    )


@query(
    "mixture_report",
    oracle="""
    WITH g AS (
      SELECT lang, source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n_docs, n_chars,
           CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE)
             AS doc_share,
           CAST(n_chars AS DOUBLE)
             / CAST(SUM(n_chars) OVER (PARTITION BY lang) AS DOUBLE)
             AS char_share_in_lang
    FROM g
    """,
)
def mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report — the contribution/percent-of-total
    view a data-mixture decision is made from: per (lang, source) doc
    and char counts, each cell's share of the whole corpus, and its
    char share WITHIN its language (the number a per-language mixture
    weight multiplies). Window-over-aggregate: the corpus-wide pass
    reduces to |lang|x|source| rows first, so the share windows run on
    a trivially small frame — at 100 TB the only full-data work is the
    first groupBy. Shares are single divisions of exact integers,
    bit-identical cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    w_all = Window.partitionBy()
    w_lang = Window.partitionBy("lang")
    return g.select(
        "lang",
        "source",
        "n_docs",
        "n_chars",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_all).cast("double")
        ).alias("doc_share"),
        (
            F.col("n_chars").cast("double")
            / F.sum("n_chars").over(w_lang).cast("double")
        ).alias("char_share_in_lang"),
    )


@query(
    "chunk_overlap",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), s AS (
      SELECT doc_id, toks,
             UNNEST(GENERATE_SERIES(0, len(toks) - 1, 24)) AS start
      FROM d
    )
    SELECT doc_id, start // 24 AS chunk_id,
           len(toks[start + 1 : start + 32]) AS chunk_len,
           md5(array_to_string(toks[start + 1 : start + 32], ' '))
             AS chunk_md5
    FROM s
    """,
)
def chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking with overlap — the tokenizer-feeding pass
    of a training pipeline: size-32-token windows at stride 24 (8-token
    overlap keeps boundary context in both neighbors). Pure per-row
    array work (sequence + slice, all JVM codegen), no shuffle at all —
    at 100 TB this pipelines inside the scan like text_normalize. The
    md5 of each chunk certifies exact content + order, not just counts;
    the final short chunk is kept (standard practice: trailing tokens
    must not be dropped)."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    s = d.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.size("toks") - 1, F.lit(24))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, 32)
    return s.select(
        "doc_id",
        F.floor(F.col("start") / 24).alias("chunk_id"),
        F.size(chunk).cast("long").alias("chunk_len"),
        F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_md5"),
    )


@query(
    "incremental_dedup",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT SHA256(text) AS content_hash
      FROM documents WHERE doc_id % 5 != 0
    ), batch AS (
      SELECT doc_id, SHA256(text) AS content_hash
      FROM documents WHERE doc_id % 5 = 0
    ), keep AS (
      SELECT MIN(doc_id) AS doc_id, content_hash, COUNT(*) AS n_in_batch
      FROM batch GROUP BY content_hash
    )
    SELECT k.doc_id, k.content_hash, k.n_in_batch
    FROM keep k LEFT JOIN corpus c USING (content_hash)
    WHERE c.content_hash IS NULL
    """,
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the production shape for a corpus
    that grows daily: dedup the NEW batch (doc_id % 5 == 0 stands in for
    today's crawl) first within itself (keep-min survivor) and then
    against the EXISTING corpus (everything else) by content hash,
    WITHOUT reprocessing the corpus — only its hash column is read.

    Scale: the corpus side projects to a single 32-byte hash column
    (scan-pruned, verified by ReadSchema), the anti-join shuffles on the
    hash — both sides uniformly distributed by construction, no skew.
    At 100 TB the corpus hash set lives as its own compact table
    maintained incrementally; this query is one day's merge step.
    """
    d = load_table(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(F.sha2("text", 256).alias("content_hash"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.sha2("text", 256).alias("content_hash")
    )
    keep = batch.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_in_batch"),
    )
    return keep.join(corpus, "content_hash", "left_anti").select(
        "doc_id", "content_hash", "n_in_batch"
    )


_PAGERANK_ITER = """
    , g{k} AS (
      SELECT e.v AS u,
             base.b + SUM(CAST(FLOOR(0.85 * g{p}.g / deg.deg) AS BIGINT)) AS g
      FROM edges e
      JOIN g{p} ON g{p}.u = e.u
      JOIN deg ON deg.u = e.u
      CROSS JOIN base
      GROUP BY e.v, base.b
    )
"""


@query(
    "pagerank_neardup",
    oracle="WITH "
    + MINHASH_LSH_BODY
    + """
    , edges AS MATERIALIZED (
      SELECT a AS u, b AS v FROM lsh_pairs
      UNION ALL
      SELECT b AS u, a AS v FROM lsh_pairs
    ), deg AS MATERIALIZED (
      SELECT u, COUNT(*) AS deg FROM edges GROUP BY u
    ), nn AS MATERIALIZED (
      SELECT COUNT(*) AS n FROM deg
    ), g0 AS (
      SELECT u, CAST(FLOOR(1000000000000.0 / nn.n) AS BIGINT) AS g
      FROM deg, nn
    ), base AS MATERIALIZED (
      SELECT CAST(FLOOR(150000000000.0 / n) AS BIGINT) AS b FROM nn
    )
    """
    + _PAGERANK_ITER.format(k=1, p=0)
    + _PAGERANK_ITER.format(k=2, p=1)
    + _PAGERANK_ITER.format(k=3, p=2)
    + """
    SELECT u AS doc_id, ROUND(g / 1000000000000.0, 6) AS pagerank
    FROM g3
    """,
)
def pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, d=0.85) over the undirected near-dup LSH
    pair graph — ranks the 'hub' documents inside duplicate
    neighborhoods (the ones to keep or to blame for template spam).
    Demonstrates the iterative-algorithm shape with EXACT cross-engine
    math: ranks live as 1e-12 integer grid units, each edge contribution
    is floored BEFORE the receiving-side sum, so every iteration is an
    integer aggregation — order-independent and bitwise reproducible;
    the oracle unrolls the same three iterations as chained CTEs.

    Scale: per iteration one join (edges x ranks, both partitioned by u)
    + one shuffle on v; degrees and ranks are (node_id, long) pairs;
    edges/deg are persisted and ranks lineage-cut so each iteration's lineage is
    flat (without it, pass k re-executes passes 1..k-1 — measured 35 s
    vs ~LSH-cost at sf0.1). The driver holds only N (a scalar,
    kmeans-loop precedent). Graph DENSITY is data-driven: this corpus is
    template-heavy (sf0.1: 5k docs -> 10.9M band-join candidates, 10.6M
    of them from 4 boilerplate buckets), so the edge list, not the
    algorithm, is the big object; the guard is the LSH band-bucket cap
    (operators/text.py::minhash_lsh_pairs, max_bucket_size=100):
    oversized buckets = boilerplate, diverted to exact-dedup handling
    before pair expansion, mirrored in the oracle's bands_ok CTE.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.5)
    edges = pairs.select(
        F.col("a").alias("u"), F.col("b").alias("v")
    ).unionAll(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
    edges = cut_lineage(edges)  # loop input: reused every iteration
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    deg = cut_lineage(deg)
    n = deg.count()
    import math

    init = int(math.floor(1_000_000_000_000.0 / n))
    base = int(math.floor(150_000_000_000.0 / n))
    g = deg.select("u", F.lit(init).cast("long").alias("g"))
    for _ in range(3):
        contrib = (
            edges.join(g, "u")
            .join(deg, "u")
            .select(
                "v",
                F.floor(F.lit(0.85) * F.col("g") / F.col("deg"))
                .cast("long")
                .alias("c"),
            )
        )
        g = contrib.groupBy(F.col("v").alias("u")).agg(
            (F.sum("c") + F.lit(base)).alias("g")
        )
        # eager checkpoint per iteration: without it each pass re-executes
        # every earlier pass (lineage doubles per iteration — measured
        # 35 s at sf0.1; flat lineage brings it to one LSH + 3 join/agg
        # rounds). Same discipline as neardup_clusters' propagation loop.
        g = cut_lineage(g)
    return g.select(
        F.col("u").alias("doc_id"),
        F.round(F.col("g") / F.lit(1_000_000_000_000.0), 6).alias("pagerank"),
    )


@query(
    "dedup_survivorship",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT SHA256(text)) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT SHA256(text)) AS BIGINT)
             AS n_removed,
           ROUND(1.0 - COUNT(DISTINCT SHA256(text))
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
           CAST(SUM(n_chars) AS BIGINT) AS chars_before
    FROM documents
    GROUP BY source
    """,
)
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship report: per-source doc counts before/after
    exact content dedup and the resulting duplication rate — the
    dashboard row every corpus build publishes (which crawl is feeding
    you copies). Pure agg with a distinct-count on the content hash: one
    shuffle, same posture as i3 but reporting instead of filtering.
    """
    d = load_table(spark, sf_dir, "documents")
    h = F.sha2("text", 256)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(h).alias("n_unique"),
        (F.count(F.lit(1)) - F.count_distinct(h)).alias("n_removed"),
        F.round(
            F.lit(1.0)
            - F.count_distinct(h) / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
        F.sum("n_chars").alias("chars_before"),
    )


@query(
    "neardup_degree_hist",
    oracle="WITH "
    + MINHASH_LSH_BODY
    + """
    , edges AS (
      SELECT a AS u FROM lsh_pairs
      UNION ALL
      SELECT b AS u FROM lsh_pairs
    ), deg AS (
      SELECT u, COUNT(*) AS degree FROM edges GROUP BY u
    )
    SELECT degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def neardup_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph health dashboard: the degree histogram of the
    (bucket-capped) verified LSH pair graph — the monitoring row that
    catches boilerplate storms (a fat tail of high-degree hubs) before
    they feed pagerank_neardup / neardup_clusters. Shares the exact
    capped pair set with its consumers via MINHASH_LSH_BODY.

    Scale: pairs -> one groupBy per node -> a histogram agg over at
    most max-degree rows; never materializes anything wider than the
    capped edge list.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.5)
    nodes = pairs.select(F.col("a").alias("u")).unionAll(
        pairs.select(F.col("b").alias("u"))
    )
    deg = nodes.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


@query(
    "neardup_triangles",
    oracle="WITH "
    + MINHASH_LSH_BODY
    + """
    , e AS MATERIALIZED (
      SELECT a, b FROM lsh_pairs
    ), tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), deg AS (
      SELECT u, COUNT(*) AS d
      FROM (SELECT a AS u FROM e UNION ALL SELECT b AS u FROM e)
      GROUP BY u
    ), wed AS (
      SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
    )
    SELECT CAST(n_triangles AS BIGINT) AS n_triangles,
           n_wedges,
           3.0 * n_triangles / n_wedges AS clustering_coeff
    FROM tri, wed
    """,
)
def neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the near-dup graph: triangle count, wedge
    (open-path) count, and the global clustering coefficient
    3*triangles/wedges — the density diagnostic that separates tight
    template cliques (coeff -> 1) from chain-like drift (coeff -> 0),
    deciding whether cluster-then-keep-one or pairwise review is the
    right dedup action.

    Triangles are counted on the a<b oriented edge list with the
    two-join wedge-close pattern (e1=(a,b) x e2=(b,c) closed by
    e3=(a,c)) — each triangle counted exactly once, equi-joins only.
    Scale: wedge fan-out is bounded by the LSH bucket cap upstream
    (degree <= bands*cap); at 100 TB orient edges by (degree, id)
    (compact-forward) so every wedge center is the lowest-degree vertex,
    which caps per-node join work at sqrt(|E|)-ish. All-integer until
    the single final division.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = (
        minhash_lsh_pairs(d, threshold=0.5)
        .select("a", "b")
        .transform(materialize)  # reused by three join legs + degree agg
    )
    e2 = pairs.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = pairs.join(e2, "b")
    e3 = pairs.select(F.col("a").alias("a"), F.col("b").alias("c"))
    tri = wedges.join(e3, ["a", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    nodes = pairs.select(F.col("a").alias("u")).unionAll(
        pairs.select(F.col("b").alias("u"))
    )
    deg = nodes.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    wed = deg.agg(
        F.sum(F.floor(F.col("d") * (F.col("d") - 1) / 2))
        .cast("long")
        .alias("n_wedges")
    )
    return tri.crossJoin(F.broadcast(wed)).select(
        F.col("n_triangles").cast("long").alias("n_triangles"),
        "n_wedges",
        (F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges")).alias(
            "clustering_coeff"
        ),
    )


@query(
    "kcore_peel",
    oracle="WITH "
    + MINHASH_LSH_BODY
    + """
    , e0 AS MATERIALIZED (
      SELECT a AS u, b AS v FROM lsh_pairs
      UNION ALL
      SELECT b AS u, a AS v FROM lsh_pairs
    ), d1 AS (SELECT u, COUNT(*) AS d FROM e0 GROUP BY u),
    n1 AS MATERIALIZED (SELECT u FROM d1 WHERE d >= 3),
    e1 AS MATERIALIZED (SELECT e.u, e.v FROM e0 e
           JOIN n1 a ON a.u = e.u JOIN n1 b ON b.u = e.v),
    d2 AS (SELECT u, COUNT(*) AS d FROM e1 GROUP BY u),
    n2 AS MATERIALIZED (SELECT u FROM d2 WHERE d >= 3),
    e2 AS (SELECT e.u, e.v FROM e1 e
           JOIN n2 a ON a.u = e.u JOIN n2 b ON b.u = e.v),
    d3 AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM e2 GROUP BY u),
    n3 AS MATERIALIZED (SELECT u FROM d3 WHERE d >= 3)
    SELECT n3.u AS doc_id, d3.d AS degree,
           (SELECT COUNT(*) FROM n3) = (SELECT COUNT(*) FROM n2)
             AS converged
    FROM n3 JOIN d3 ON d3.u = n3.u
    """,
)
def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-core extraction: 3 rounds of k-core peeling (k=3, classic
    Matula-Beck) over the bucket-capped near-dup graph — nodes surviving
    repeated remove-degree-<k rounds are the tightly-knit template
    cores, the highest-confidence cluster-and-keep-one targets
    (complements neardup_triangles' global density with per-node
    membership).

    Each round is one groupBy(count) + two node-list equi-joins, all
    keyed by node id — the same primitives as connected components, so
    a full fixpoint at 100 TB is this loop driven to stability
    (cut_lineage per round, scalar convergence check, the
    kmeans/CC discipline). The 3-round unroll keeps the oracle a chain
    of CTEs; ``converged`` reports whether round 3 changed nothing, so
    a non-fixpoint result is visible, not silent.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, threshold=0.5)
    e = cut_lineage(
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
    )
    counts = []
    deg = None
    for _ in range(3):
        deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        nodes = deg.filter(F.col("d") >= 3).select("u")
        counts.append(nodes)
        e = cut_lineage(
            e.join(nodes, "u")
            .join(nodes.select(F.col("u").alias("v")), "v")
        )
    n2_count = counts[1].agg(F.count(F.lit(1)).alias("c2"))
    n3 = counts[2]
    n3_count = n3.agg(F.count(F.lit(1)).alias("c3"))
    conv = n3_count.crossJoin(F.broadcast(n2_count)).select(
        (F.col("c3") == F.col("c2")).alias("converged")
    )
    return (
        n3.join(deg, "u")
        .crossJoin(F.broadcast(conv))
        .select(F.col("u").alias("doc_id"), F.col("d").alias("degree"), "converged")
    )


@query(
    "pps_systematic_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS ca
      FROM documents
    ), tot AS (
      SELECT lang, SUM(n_chars) AS total,
             CAST(CEIL(SUM(n_chars) / 4.0) AS BIGINT) AS stride
      FROM documents GROUP BY lang
    ), marked AS (
      SELECT w.doc_id, w.lang, w.n_chars, w.ca, w.ca - w.n_chars AS cb,
             t.stride
      FROM w JOIN tot t USING (lang)
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
           CAST(ca AS BIGINT) AS cum_chars
    FROM marked
    WHERE ((ca - 1) // stride)
          - (CASE WHEN cb = 0 THEN -1 ELSE (cb - 1) // stride END) > 0
    """,
)
def pps_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling (~4 docs per
    language, inclusion probability proportional to n_chars) — the
    quality-weighted corpus subsampling primitive, done with PURE
    INTEGER arithmetic: a doc is selected iff its cumulative-weight
    interval [cb, ca) covers a multiple of stride = ceil(total/4).
    Unlike exponential-key (Efraimidis-Spirakis) weighted sampling,
    there is no ln()/pow() whose last-ulp engine differences could flip
    a selection — every comparison is exact long division, so the
    sample is bitwise reproducible across engines, runs, and
    repartitions (deterministic offset-0 anchor, documented).

    Scale: one per-language cumulative window (shard the partition key
    and offset by exclusive shard prefix totals at 100 TB — the
    pack_sequences pattern) + a broadcast of per-language strides.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.sum("n_chars").over(w).alias("ca"),
    ).withColumn("cb", F.col("ca") - F.col("n_chars"))
    tot = d.groupBy("lang").agg(
        F.ceil(F.sum("n_chars") / F.lit(4.0)).cast("long").alias("stride")
    )
    marked = cum.join(F.broadcast(tot), "lang")
    hi = F.expr("(ca - 1) DIV stride")
    lo = F.when(F.col("cb") == 0, F.lit(-1)).otherwise(
        F.expr("(cb - 1) DIV stride")
    )
    return marked.filter(hi - lo > 0).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("weight"),
        F.col("ca").cast("long").alias("cum_chars"),
    )


@query(
    "weighted_sample_topk",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             (('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || '-wrs'),
                              1, 8))::BIGINT % 1000003) + 1 AS u
      FROM documents
    ), ranked AS (
      SELECT doc_id, lang, n_chars, u,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY u / CAST(n_chars AS DOUBLE), doc_id) AS rk
      FROM keyed
    )
    SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id,
           CAST(n_chars AS BIGINT) AS weight, CAST(u AS BIGINT) AS u
    FROM ranked WHERE rk <= 5
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, exactly k = 5 docs per
    language, inclusion odds rising with n_chars — the bounded-size
    sibling of ``pps_systematic_sample`` (which takes ~k by interval
    coverage, not exactly k).

    Method: priority sampling with UNIFORM clocks — each doc draws a
    deterministic uniform integer u from its md5 hash and the k
    smallest u/weight keys win (for the smallest keys P(u/w < t) ~ t*w,
    so inclusion odds are ~proportional to weight).  The classic
    Efraimidis-Spirakis form uses exponential clocks (-ln(u)/w) for
    exact PPS-without-replacement odds, but ln() is not guaranteed
    bit-identical across engines (libm vs Math.log last-ulp); the
    uniform-clock key is ONE IEEE division of exact integers —
    reproducible everywhere — and ranks identically for the small-key
    region that decides the sample.  Ties (possible only if two
    divisions land on the same double) break on doc_id.

    Scale: a stateless hash per row, then a per-language top-k window
    (WindowGroupLimit prunes to k per partition before the shuffle) —
    no global sort, no transcendental, no RNG state.
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (
            md5_hash32(F.concat(F.col("doc_id").cast("string"), F.lit("-wrs")))
            % 1000003
            + 1
        ).alias("u"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("u") / F.col("n_chars").cast("double"), F.asc("doc_id")
    )
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .select(
            "lang",
            "rk",
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            F.col("u").cast("long").alias("u"),
        )
    )


@query(
    "neardup_link_predict",
    oracle="WITH "
    + MINHASH_LSH_BODY
    + """
    , e0 AS MATERIALIZED (
      SELECT a AS u, b AS v FROM lsh_pairs
      UNION ALL
      SELECT b AS u, a AS v FROM lsh_pairs
    ), deg AS MATERIALIZED (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM e0 GROUP BY u
    ), cn AS (
      SELECT l.u AS u, r.v AS v, CAST(COUNT(*) AS BIGINT) AS common
      FROM e0 l JOIN e0 r ON r.u = l.v AND l.u < r.v
      GROUP BY l.u, r.v
    ), lp_cand AS (
      SELECT c.u, c.v, c.common
      FROM cn c
      WHERE NOT EXISTS (
        SELECT 1 FROM lsh_pairs p WHERE p.a = c.u AND p.b = c.v
      )
    )
    SELECT c.u, c.v, c.common,
           (c.common * 1000000) // (du.d + dv.d - c.common) AS jaccard_grid
    FROM lp_cand c
    JOIN deg du ON du.u = c.u
    JOIN deg dv ON dv.u = c.v
    ORDER BY jaccard_grid DESC, c.common DESC, c.u, c.v
    LIMIT 20
    """,
)
def neardup_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the near-dup graph: for non-adjacent document
    pairs two hops apart, the neighborhood-Jaccard score
    |N(a) n N(b)| / |N(a) u N(b)| — the classic "these two are probably
    near-dups the LSH bands missed" recovery signal (Liben-Nowell &
    Kleinberg, CIKM'03), closing the loop between the candidate
    generator and the graph analytics built on it. Top-20 scored pairs.

    Plan: symmetric adjacency from the CAPPED pair list -> wedge join on
    the shared neighbor (u < v orients each candidate once) -> count =
    common neighbors -> anti-join out pairs that are ALREADY edges ->
    degree join, score as exact integer-grid division, TopK. Scale: the
    wedge fan-out is bounded by the upstream LSH bucket cap (the same
    bound neardup_triangles rides); everything else is equi-joins over
    the edge list and a 2-column degree table.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = (
        minhash_lsh_pairs(d, threshold=0.5)
        .select("a", "b")
        .transform(materialize)  # reused by adjacency, anti-join and degrees
    )
    e0 = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = e0.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    left = e0.select(F.col("u"), F.col("v").alias("w"))
    right = e0.select(F.col("u").alias("w"), F.col("v"))
    cn = (
        left.join(right, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = cn.join(
        pairs,
        (cn["u"] == pairs["a"]) & (cn["v"] == pairs["b"]),
        "left_anti",
    )
    du = deg.select(F.col("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dv"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "common",
            F.expr("(common * 1000000) div (du + dv - common)").alias(
                "jaccard_grid"
            ),
        )
        .orderBy(
            F.desc("jaccard_grid"), F.desc("common"), F.asc("u"), F.asc("v")
        )
        .limit(20)
    )
