"""Text / LLM-data queries over ``documents`` (SURVEY.md §2 category I
plus the north-star training-data operators: dedup family, language ID,
quality scoring, token counting, fingerprinting).

Oracle parity notes: token hashes use the md5-hex trick (identical in
both engines, see operators/text.py); Jaccard/scores are integer ratios
(single double division — deterministic); no money-style rounding needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_data_pipeline_spark.catalog import load_table
from etl_data_pipeline_spark.operators.text import (
    LSH_MAX_BUCKET_SIZE,
    MINHASH_BAND_ROWS,
    MINHASH_HASHES,
    MINHASH_P,
    containment_pairs_op,
    exact_dedup,
    exact_jaccard_on_pairs,
    jaccard_pairs,
    lsh_candidate_pairs,
    md5_hash32,
    minhash_bands,
    minhash_lsh_pairs,
    minhash_signatures,
    probe_neardup_index,
    quality_cols,
    simhash_fingerprints,
    tokens,
    word_ngrams,
)
from etl_data_pipeline_spark.plans.registry import query
from etl_data_pipeline_spark.materialize import materialize

#: shared oracle CTE: one row per (doc_id, token) occurrence, in order
_TOKENS_CTE = """
    WITH toks AS (
      SELECT doc_id, lang, source,
             UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    )
"""


@query(
    "wordcount",
    oracle=_TOKENS_CTE
    + """
    SELECT token, COUNT(*) AS n
    FROM toks
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I1: tokenize + word count (split/explode/groupBy), top-20."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@query(
    "i2_text_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) / CAST(COUNT(*) AS DOUBLE)
             AS avg_tokens_per_doc,
           CAST(SUM(n_chars) AS BIGINT) / CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)::DOUBLE
             AS avg_chars_per_token
    FROM documents
    GROUP BY lang, source
    """,
)
def i2_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I2: corpus statistics per (lang, source) — integer sums, single
    double divisions (deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " ")).cast("long")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(ntok).alias("total_tokens"),
        (F.sum(ntok) / F.count(F.lit(1)).cast("double")).alias("avg_tokens_per_doc"),
        (F.sum("n_chars") / F.sum(ntok).cast("double")).alias("avg_chars_per_token"),
    )


@query(
    "i3_exact_dedup",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, SHA256(text) AS content_hash FROM documents
    )
    SELECT MIN(doc_id) AS doc_id, content_hash, COUNT(*) AS n_copies
    FROM hashed
    GROUP BY content_hash
    """,
)
def i3_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3: exact content-hash dedup, deterministic keep-min survivor."""
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d).select("doc_id", "content_hash", "n_copies")


_JACCARD_ORACLE = """
    WITH t0 AS (
      SELECT DISTINCT doc_id, lang,
             UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ), bs AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs FROM t0 GROUP BY lang
    ), dfc AS (
      SELECT lang, token, COUNT(*) AS df FROM t0 GROUP BY lang, token
    ), t AS (
      SELECT t0.doc_id, t0.lang, t0.token
      FROM t0 JOIN dfc USING (lang, token) JOIN bs USING (lang)
      WHERE dfc.df * {df_den} <= {df_num} * bs.n_docs
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM t GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.a, i.b, i.inter,
           i.inter / CAST(ca.n_tok + cb.n_tok - i.inter AS DOUBLE) AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.a
    JOIN counts cb ON cb.doc_id = i.b
    WHERE i.inter / CAST(ca.n_tok + cb.n_tok - i.inter AS DOUBLE) >= {tau}
"""


@query("i4_jaccard_pairs", oracle=_JACCARD_ORACLE.format(tau=0.8, df_num=1, df_den=5))
def i4_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4: n-gram (token-set) Jaccard near-dup pairs, blocked by lang,
    with a document-frequency cap (tokens in > 20% of a block's docs are
    dropped as stop words before set sizes are computed — the guard that
    keeps the inverted-index join's fan-out sub-quadratic when a hot
    token would otherwise pair every doc with every doc).

    Exact inverted-index self-join — the verifier stage; the LSH variant
    below is what runs first at 100 TB.
    """
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(d, threshold=0.8, max_df_frac=0.2)


#: DuckDB CTE body for the MinHash banding stage (``MINHASH_HASHES``
#: hashes in ``MINHASH_BAND_ROWS``-row bands): ends in
#: ``bands(doc_id, band, band_key)`` + the per-bucket sizes
#: ``bsz(band, band_key, bucket_n)``.  Shared by the LSH pair body below
#: and the bucket-size divert report.  No ``WITH`` prefix.
MINHASH_BANDS_BODY = f"""
    t AS MATERIALIZED (
      SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ), th AS (
      SELECT doc_id,
             ('0x' || SUBSTR(MD5(token), 1, 8))::BIGINT % {MINHASH_P} AS h
      FROM t
    ), sig AS MATERIALIZED (
      SELECT doc_id, i.range AS i,
             MIN(((i.range * 37 + 11) * h + (i.range * 104729 + 17)) % {MINHASH_P})
               AS minhash
      FROM th, RANGE({MINHASH_HASHES}) i
      GROUP BY doc_id, i.range
    ), bands AS MATERIALIZED (
      SELECT doc_id, i // {MINHASH_BAND_ROWS} AS band,
             STRING_AGG(CAST(minhash AS VARCHAR), '-' ORDER BY i) AS band_key
      FROM sig GROUP BY doc_id, i // {MINHASH_BAND_ROWS}
    ), bsz AS (
      SELECT band, band_key, COUNT(*) AS bucket_n
      FROM bands GROUP BY band, band_key
    )"""

#: DuckDB CTE body reproducing ``minhash_lsh_pairs`` (threshold 0.5,
#: the banding above, bucket cap ``LSH_MAX_BUCKET_SIZE``); ends in a
#: ``lsh_pairs(a, b, jaccard)`` CTE so downstream oracles (i4b here;
#: neardup components / pagerank in plans/curation.py) can build on the
#: verified pair set.  NOTE: no ``WITH`` prefix — callers prepend
#: ``WITH `` or ``WITH RECURSIVE `` as needed.  Every CTE a consumer
#: reads more than once is written ``AS MATERIALIZED``, here and in the
#: consumers: DuckDB 1.0 otherwise inlines each reference, so a chain
#: like kcore_peel's recomputed the whole pair set per reference and
#: ran out of 4 GB at sf0.001 (materialized: 0.1 s, same rows).
MINHASH_LSH_BODY = MINHASH_BANDS_BODY + f""", bands_ok AS MATERIALIZED (
      SELECT b.doc_id, b.band, b.band_key
      FROM bands b JOIN bsz USING (band, band_key)
      WHERE bsz.bucket_n <= {LSH_MAX_BUCKET_SIZE}
    ), cand AS MATERIALIZED (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands_ok l JOIN bands_ok r
        ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
    ), counts AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS n_tok FROM t GROUP BY doc_id
    ), inter AS MATERIALIZED (
      SELECT c.a, c.b, COUNT(*) AS inter
      FROM cand c
      JOIN t ta ON ta.doc_id = c.a
      JOIN t tb ON tb.doc_id = c.b AND tb.token = ta.token
      GROUP BY c.a, c.b
    ), lsh_pairs AS MATERIALIZED (
      SELECT i.a, i.b,
             i.inter / CAST(ca.n_tok + cb.n_tok - i.inter AS DOUBLE) AS jaccard
      FROM inter i
      JOIN counts ca ON ca.doc_id = i.a
      JOIN counts cb ON cb.doc_id = i.b
      WHERE i.inter / CAST(ca.n_tok + cb.n_tok - i.inter AS DOUBLE) >= 0.5
    )
"""


@query(
    "i4b_minhash_lsh",
    oracle="WITH "
    + MINHASH_LSH_BODY
    + """
    SELECT a, b, jaccard FROM lsh_pairs
    """,
)
def i4b_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I4 scale path: MinHash(16) + LSH(4x4 bands) candidates, exact
    Jaccard verify at 0.5 — never materializes all pairs.  Buckets above
    ``LSH_MAX_BUCKET_SIZE`` (boilerplate/template clusters) are diverted
    BEFORE the band join (operators/text.py::minhash_lsh_pairs), so no
    bucket contributes more than cap^2/2 candidates; the oracle applies
    the identical cap in its ``bands_ok`` CTE."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, threshold=0.5)


@query(
    "incremental_neardup",
    oracle="WITH "
    + MINHASH_LSH_BODY
    + """
    SELECT a, b, jaccard FROM lsh_pairs
    WHERE a % 10 = 0 OR b % 10 = 0
    """,
)
def incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest near-dup: docs with ``doc_id % 10 = 0`` are the
    incoming batch (10%), the rest are the standing corpus whose LSH
    index is built once and probed — no corpus re-signature
    (operators/text.py::probe_neardup_index).  The oracle is the
    FULL-corpus LSH pair set (the i4b_minhash_lsh oracle verbatim)
    restricted to pairs touching the batch, which is exactly the
    probe's equivalence contract."""
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    return probe_neardup_index(minhash_bands(corpus), new, d, threshold=0.5)


@query(
    "lsh_bucket_stats",
    oracle="WITH "
    + MINHASH_BANDS_BODY
    + f"""
    SELECT bucket_n,
           COUNT(*) AS n_buckets,
           CAST(bucket_n > {LSH_MAX_BUCKET_SIZE} AS INT) AS oversized,
           CAST(bucket_n * (bucket_n - 1) // 2 * COUNT(*) AS BIGINT)
             AS candidate_pairs
    FROM bsz
    GROUP BY bucket_n
    """,
)
def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH divert report: the band-bucket size histogram with the
    oversized flag — the operational dashboard for the bucket cap in
    ``minhash_lsh_pairs``.  ``candidate_pairs`` is what each size class
    WOULD contribute to the band join; rows with ``oversized = 1`` are
    exactly the buckets the cap removes (measured here: at sf0.1 the 4
    largest buckets carry 10.6M of 10.9M candidates — the cap turns a
    quadratic blowup into <= cap^2/2 per bucket).

    Scale: signatures + one groupBy on (band, band_key) + a tiny
    histogram agg — no self-join anywhere."""
    d = load_table(spark, sf_dir, "documents")
    bands = minhash_bands(d)
    bsz = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    return (
        bsz.groupBy("bucket_n")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(
            "bucket_n",
            "n_buckets",
            (F.col("bucket_n") > LSH_MAX_BUCKET_SIZE)
            .cast("int")
            .alias("oversized"),
            (
                F.col("bucket_n")
                * (F.col("bucket_n") - 1)
                / F.lit(2)
                * F.col("n_buckets")
            )
            .cast("long")
            .alias("candidate_pairs"),
        )
    )


@query(
    "i5_tfidf_topterms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * LN(n.n_docs / CAST(df.df AS DOUBLE)) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, ROUND(tfidf, 6) AS tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, token) AS rn FROM scored)
    WHERE rn <= 3
    """,
)
def i5_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: TF-IDF top-3 terms per document.

    Formula pinned on both sides: tf * ln(N / df) with df as double;
    ties (same tf, df) break on token asc.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar dimension; fine to evaluate eagerly
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", F.round("tfidf", 6).alias("tfidf"))
    )


@query(
    "simhash_fingerprint",
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
             SUM(tf * ((CAST(FLOOR(h / POW(2, j.range)) AS BIGINT) % 2) * 2 - 1)) AS v
      FROM th, RANGE(16) j
      GROUP BY doc_id, j.range
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup family: 16-bit SimHash fingerprint per document."""
    d = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(d, bits=16)


@query(
    "lang_id",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(('0x' || SUBSTR(MD5(UNNEST(STRING_SPLIT(text, ' '))), 1, 8))::BIGINT
                  % 65536 AS BIGINT) AS bucket
      FROM documents
    ), freq AS (
      SELECT lang AS cand_lang, bucket, COUNT(*) AS freq
      FROM toks GROUP BY lang, bucket
    ), scores AS (
      SELECT t.doc_id, t.lang, f.cand_lang,
             CAST(SUM(f.freq) AS BIGINT) AS score
      FROM toks t JOIN freq f ON f.bucket = t.bucket
      GROUP BY t.doc_id, t.lang, f.cand_lang
    )
    SELECT doc_id, lang, cand_lang AS pred_lang, score,
           (cand_lang = lang) AS correct
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, cand_lang) AS rn FROM scores)
    WHERE rn = 1
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: corpus-statistical language ID over a HASHED
    feature space (the production lang-ID shape: fastText/CLD-class
    models hash character n-grams into a FIXED dimension, which is what
    makes the model a bounded, shippable table).

    Tokens hash to 2^16 buckets via the house md5-slice (collision-free
    on this corpus's vocabulary, so scores equal the unhashed
    formulation's; on a real open vocabulary collisions perturb scores
    bounded by the load factor — the standard hashing-trick trade).
    The per-(lang, bucket) frequency model is bounded BY CONSTRUCTION
    (langs x 2^16 worst case) and broadcast-joined — that boundedness
    is exactly what distinguishes it from the corpus-derived vocab
    tables pmi/unigram_lm/source_kl must NOT broadcast (their distinct
    keys grow with the corpus; tests pin both postures).

    Round 12 (SLOPE_AUDIT_SF10 catch): the previous formulation joined
    raw token occurrences against the corpus-derived (lang, token)
    frequency table — on this 31-token vocabulary that shuffle join has
    31 distinct keys, so at sf10 (27.5M occurrences) a handful of tasks
    carried everything: measured slope 31.8 at 10x docs (3.2 s ->
    101 s).  The hashed-model broadcast removes that shuffle entirely
    (map-side lookup + partial agg), and the hashed token stream is
    materialized once for its two consumers: re-measured 3.9 s at sf1 /
    31.9 s at sf10 = slope 8.2, linear-consistent across the third
    decade.  Prediction = argmax over langs of summed bucket frequency,
    integer scores so parity is exact; ties break on lang asc.
    """
    d = load_table(spark, sf_dir, "documents")
    # two consumers (model build + scoring) — materialize so the md5
    # per occurrence is computed once, not twice
    toks = materialize(
        d.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
        ).select(
            "doc_id",
            "lang",
            F.pmod(md5_hash32(F.col("token")), F.lit(65536))
            .cast("long")
            .alias("bucket"),
        )
    )
    freq = toks.groupBy(F.col("lang").alias("cand_lang"), "bucket").agg(
        F.count(F.lit(1)).alias("freq")
    )
    scores = (
        toks.join(F.broadcast(freq), "bucket")
        .groupBy("doc_id", "lang", "cand_lang")
        .agg(F.sum("freq").alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand_lang"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("cand_lang").alias("pred_lang"),
            "score",
            (F.col("cand_lang") == F.col("lang")).alias("correct"),
        )
    )


@query(
    "quality_score",
    oracle="""
    WITH stats AS (
      SELECT doc_id, n_chars,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS n_distinct,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 x -> x IN ('the', 'a'))) AS n_stop
      FROM documents
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           n_distinct / CAST(n_tokens AS DOUBLE) AS type_token_ratio,
           n_stop / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
           n_chars / CAST(n_tokens AS DOUBLE) AS avg_token_span,
           0.5 * (n_distinct / CAST(n_tokens AS DOUBLE))
             + 0.3 * (1.0 - n_stop / CAST(n_tokens AS DOUBLE))
             + 0.2 * (CASE WHEN n_tokens >= 30 THEN 1.0 ELSE n_tokens / 30.0 END)
             AS quality
    FROM stats
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: document quality score from token statistics
    (type/token ratio, stopword ratio, length factor) — the standard
    pre-training heuristic filter, all integer ratios (deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    ttr, stop_ratio, quality = quality_cols()
    n_tokens = F.size(F.split("text", " "))
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        ttr.alias("type_token_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (F.col("n_chars") / n_tokens.cast("double")).alias("avg_token_span"),
        quality.alias("quality"),
    )


@query(
    "token_count_est",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(CEIL(n_chars / 4.0) AS BIGINT) AS bpe_est_chars,
           CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '[a-z]{{1,4}}')) - 1 AS BIGINT)
             AS bpe_est_chunks
    FROM documents
    """.replace("{{", "{").replace("}}", "}"),
)
def token_count_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counting — whitespace tokens plus two BPE-ish
    estimators (chars/4 and 4-char-chunk splitting; both engines use the
    same greedy regex semantics for this pattern)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("bpe_est_chars"),
        (F.size(F.split("text", "[a-z]{1,4}")) - 1)
        .cast("long")
        .alias("bpe_est_chunks"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    WITH sh AS (
      -- range() cannot take lateral args in DuckDB: cross-join a constant
      -- position domain (documents are short) and filter to valid starts
      SELECT d.doc_id,
             STRING_SPLIT(d.text, ' ')[i.range + 1] || ' ' ||
             STRING_SPLIT(d.text, ' ')[i.range + 2] || ' ' ||
             STRING_SPLIT(d.text, ' ')[i.range + 3] AS shingle
      FROM documents d, RANGE(1000) i
      WHERE i.range < LEN(STRING_SPLIT(d.text, ' ')) - 2
    )
    SELECT doc_id,
           MIN(('0x' || SUBSTR(MD5(shingle), 1, 8))::BIGINT) AS fingerprint,
           COUNT(DISTINCT shingle) AS n_shingles,
           MIN(shingle) AS min_shingle
    FROM sh GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: document fingerprint = min-wise hash over token
    3-gram shingles (one-permutation MinHash / winnowing-style).

    A pure map: each document's trigram array is reduced in its own row,
    so no shuffle.  Documents without a trigram are dropped by a filter
    on the token count; a filter on ``size(ngrams)`` would be pushed
    below the projection and build every trigram array twice."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("ngrams", word_ngrams(3))
        .filter(F.size(F.split("text", " ")) >= 3)
        .select(
            "doc_id",
            F.array_min(F.transform("ngrams", md5_hash32)).alias("fingerprint"),
            F.size(F.array_distinct("ngrams")).cast("long").alias("n_shingles"),
            F.array_min("ngrams").alias("min_shingle"),
        )
    )


@query(
    "unigram_lm_score",
    oracle=_TOKENS_CTE
    + """
    , vocab AS (
      SELECT token, COUNT(*) AS c FROM toks GROUP BY token
    ), tot AS (
      SELECT COUNT(*) AS n FROM toks
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           ROUND(AVG(LN(CAST(v.c AS DOUBLE) / tot.n)), 6) AS avg_logp
    FROM toks t
    JOIN vocab v USING (token)
    CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-proxy quality scoring (the kenlm-perplexity-filter shape used
    by CCNet/Gopher-style pipelines, with the corpus's own unigram model
    standing in for the external LM): score(doc) = mean token
    log-probability under corpus unigram frequencies. Low scores flag
    rare-token/garbled documents; a pipeline filters on a score band.

    Two passes, both JVM-side: (1) token counts (one shuffle on token),
    (2) counts joined back to the token stream, then a per-doc mean.
    The vocab table is |distinct tokens| — 10^8-10^9 on a 100 TB web
    corpus, past executor broadcast limits — so it is NOT hinted: the
    join shuffles on the token key, co-partitioned with the groupBy
    that produced the counts (one exchange reused for both), and AQE
    may still pick a broadcast at runtime when the vocab is small.
    Only the single-row corpus total carries a hint.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(d).select("doc_id", "token")
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        toks.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("c").cast("double") / F.col("n")).alias("logp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.round(F.avg("logp"), 6).alias("avg_logp"),
    )


@query(
    "script_ratio",
    oracle="""
    SELECT doc_id,
           CAST(LEN(text) AS BIGINT) AS n_chars_seen,
           ROUND(CAST(LEN(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                 / NULLIF(LEN(text), 0), 6) AS alpha_ratio,
           ROUND(CAST(LEN(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / NULLIF(LEN(text), 0), 6) AS digit_ratio,
           ROUND(CAST(LEN(text) - LEN(REPLACE(text, ' ', '')) AS DOUBLE)
                 / NULLIF(LEN(text), 0), 6) AS space_ratio,
           ROUND(CAST(LEN(REGEXP_REPLACE(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                 / NULLIF(LEN(text), 0), 6) AS other_ratio
    FROM documents
    """,
)
def script_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: per-document character-class profile (ASCII
    letter / digit / space / other ratios) — the cheap script/garbage
    detector every ingest pipeline runs before expensive scoring
    (non-text blobs score near-zero alpha_ratio; CJK docs land in
    other_ratio). Pure narrow projection: no shuffle, whole-stage
    codegen, trivially scan-parallel at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    n = F.length("text")

    def ratio(kept):
        # empty docs: NULL on both engines (NULLIF in the oracle; Spark's
        # non-ANSI x/0 is NULL, but the explicit guard makes it contractual)
        return F.round(F.when(n > 0, kept.cast("double") / n), 6)

    return d.select(
        "doc_id",
        n.cast("long").alias("n_chars_seen"),
        ratio(F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))).alias(
            "alpha_ratio"
        ),
        ratio(F.length(F.regexp_replace("text", "[^0-9]", ""))).alias("digit_ratio"),
        ratio(n - F.length(F.regexp_replace("text", " ", ""))).alias("space_ratio"),
        ratio(F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))).alias(
            "other_ratio"
        ),
    )


@query(
    "pmi_bigrams",
    oracle=_TOKENS_CTE
    + """
    , arr AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS a FROM documents
    ), bi AS (
      SELECT UNNEST(a[:-2]) AS w1, UNNEST(a[2:]) AS w2 FROM arr
    ), bic AS (
      SELECT w1, w2, COUNT(*) AS c_ab FROM bi GROUP BY w1, w2
    ), uni AS (
      SELECT token, COUNT(*) AS c FROM toks GROUP BY token
    ), tot AS (
      SELECT (SELECT COUNT(*) FROM toks) AS n_tok,
             (SELECT COUNT(*) FROM bi) AS n_bi
    )
    SELECT b.w1, b.w2, b.c_ab,
           ROUND(LN((CAST(b.c_ab AS DOUBLE) * t.n_tok * t.n_tok)
                    / (CAST(t.n_bi AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
    FROM bic b
    JOIN uni u1 ON u1.token = b.w1
    JOIN uni u2 ON u2.token = b.w2
    CROSS JOIN tot t
    WHERE b.c_ab >= 5
    """,
)
def pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information of adjacent token
    pairs — PMI(a,b) = ln(p(ab) / (p(a)p(b))) with bigram and unigram
    probabilities from the same corpus; the standard phrase-detection
    signal (word2vec's phrase pass, quality filters' "glued boilerplate"
    detector). Only pairs seen >= 5 times are emitted.

    Scale: bigrams come from a zip of the token array with its shift
    (slice+arrays_zip, pure codegen — no self-join). The unigram vocab
    is NOT broadcast — a 100 TB web corpus has 10^8-10^9 distinct tokens
    (typos, IDs, URLs), far past executor broadcast limits — instead the
    ``c_ab >= 5`` frequency floor prunes the bigram side BEFORE the two
    vocab joins (only tokens appearing in surviving bigrams cross them)
    and the join strategy is left to Catalyst/AQE, which broadcasts the
    small side at runtime when it fits. Only the single-row totals frame
    carries a broadcast hint. All math is integer counts into one double
    expression with matching association order on both engines.
    """
    d = load_table(spark, sf_dir, "documents")
    arr = d.select(F.split("text", " ").alias("a"))
    bi = arr.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("a"), 1, F.size("a") - 1),
                F.slice(F.col("a"), 2, F.size("a") - 1),
            )
        ).alias("z")
    ).select(F.col("z.0").alias("w1"), F.col("z.1").alias("w2"))
    bic = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    toks = tokens(d).select("token")
    uni = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_tok")).crossJoin(
        bi.agg(F.count(F.lit(1)).alias("n_bi"))
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c2"))
    return (
        bic.filter(F.col("c_ab") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") * F.col("n_tok") * F.col("n_tok"))
                    / (F.col("n_bi").cast("double") * F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


@query(
    "source_kl_divergence",
    oracle=_TOKENS_CTE
    + """
    , st AS (
      SELECT source, token, COUNT(*) AS c_st FROM toks GROUP BY source, token
    ), s AS (
      SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source
    ), t AS (
      SELECT token, SUM(c_st) AS c_t FROM st GROUP BY token
    ), tot AS (
      SELECT SUM(c_st) AS n_tot FROM st
    ), contrib AS (
      SELECT st.source,
             CAST(FLOOR((CAST(st.c_st AS DOUBLE) / s.n_s)
                        * LN((CAST(st.c_st AS DOUBLE) * tot.n_tot)
                             / (CAST(s.n_s AS DOUBLE) * t.c_t))
                        * 1000000000000) AS BIGINT) AS g
      FROM st JOIN s USING (source) JOIN t USING (token) CROSS JOIN tot
    )
    SELECT c.source, CAST(s.n_s AS BIGINT) AS n_tokens,
           ROUND(SUM(g) / 1000000000000.0, 6) AS kl_nats
    FROM contrib c JOIN s ON s.source = c.source
    GROUP BY c.source, s.n_s
    """,
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift metric: KL(P_source || P_corpus) over the unigram
    distributions — the standard detector for a source whose vocabulary
    diverges from the mixture (crawl drift, template spam, wrong-language
    shards). KL = sum_t p_s(t) ln(p_s(t)/p(t)).

    Determinism: each term's double contribution is floored to 1e-12
    grid units BEFORE summation, so the cross-source totals are integer
    sums (order-independent, cross-engine exact even though LN itself
    may differ in the last ulp — a 1-unit grid wobble is 1e-12, far
    inside the final 1e-6 rounding).

    Scale: two shuffles ((source, token) counts, then per-source sum).
    The per-token totals table is vocab-sized (10^8-10^9 distinct tokens
    on a 100 TB web corpus) so it is NOT broadcast — the st-x-t join
    shuffles on the token key, co-partitioned with the groupBy that
    produced both sides; AQE may still broadcast at runtime when small.
    Only the genuinely bounded frames carry hints: per-source totals
    (#sources rows) and the single-row corpus total.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(d).select("source", "token")
    st = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c_st"))
    s = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    t = st.groupBy("token").agg(F.sum("c_st").alias("c_t"))
    tot = st.agg(F.sum("c_st").alias("n_tot"))
    contrib = (
        st.join(F.broadcast(s), "source")
        .join(t, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            F.floor(
                (F.col("c_st").cast("double") / F.col("n_s"))
                * F.log(
                    (F.col("c_st").cast("double") * F.col("n_tot"))
                    / (F.col("n_s").cast("double") * F.col("c_t"))
                )
                * 1000000000000
            )
            .cast("long")
            .alias("g"),
        )
    )
    return contrib.groupBy("source", "n_s").agg(
        F.round(F.sum("g") / F.lit(1000000000000.0), 6).alias("kl_nats")
    ).select(
        "source", F.col("n_s").cast("long").alias("n_tokens"), "kl_nats"
    )


@query(
    "minhash_est_quality",
    oracle="WITH "
    + MINHASH_LSH_BODY
    + f""", sigj AS (
      SELECT c.a, c.b,
             CAST(SUM(CASE WHEN s1.minhash = s2.minhash
                           THEN 1 ELSE 0 END) AS BIGINT) AS est_matches
      FROM cand c
      JOIN sig s1 ON s1.doc_id = c.a
      JOIN sig s2 ON s2.doc_id = c.b AND s2.i = s1.i
      GROUP BY c.a, c.b
    ), qq AS (
      SELECT e.est_matches,
             COALESCE(i.inter, 0) AS inter,
             ca.n_tok + cb.n_tok - COALESCE(i.inter, 0) AS u
      FROM sigj e
      LEFT JOIN inter i ON i.a = e.a AND i.b = e.b
      JOIN counts ca ON ca.doc_id = e.a
      JOIN counts cb ON cb.doc_id = e.b
    )
    SELECT est_matches,
           COUNT(*) AS n_pairs,
           CAST(SUM(CAST(FLOOR(inter / CAST(u AS DOUBLE) * 1000000)
                         AS BIGINT)) AS BIGINT) AS jaccard_grid_sum,
           CAST(SUM(CASE WHEN 5 * ABS(est_matches * u - {MINHASH_HASHES} * inter)
                              <= 28 * u
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_within
    FROM qq GROUP BY est_matches
    """,
)
def minhash_est_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator quality gate — the ``ann_recall`` sibling for
    the near-dup family: for every LSH candidate pair, compare the
    signature's Jaccard estimate (matching components / 16) against the
    EXACT token-set Jaccard, bucketed by estimate value.

    Emits, per est_matches bucket (0..16): pair count, exact-jaccard
    grid sum (the bucket's true-similarity mass), and how many pairs sit
    within ±0.35 of the estimate — the theoretical 2.8-sigma band for a
    16-hash signature (sd <= sqrt(j(1-j)/16) <= 0.125).  "Sketch
    quality" is a driver-checked number, not an assertion.

    Exactness: the ±0.35 band test is cleared of all division —
    ``5*|est*u - 16*inter| <= 28*u`` in exact BIGINTs — and the jaccard
    mass uses the 1e-6 grid-sum discipline, so every output cell is an
    integer.  Scale: candidates come from the CAPPED band join (no
    quadratic fan-out); the signature compare joins 16 small rows per
    candidate on (doc, i) — linear in candidates; the exact verify is
    the same pair-restricted inverted-index join i4b already runs.
    """
    d = load_table(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(d)
    jac = exact_jaccard_on_pairs(d, cand)
    sig = minhash_signatures(d)
    sa = sig.select(
        F.col("doc_id").alias("sa_id"),
        F.col("i").alias("i_a"),
        F.col("minhash").alias("mh_a"),
    )
    sb = sig.select(
        F.col("doc_id").alias("sb_id"),
        F.col("i").alias("i_b"),
        F.col("minhash").alias("mh_b"),
    )
    est = (
        cand.join(sa, F.col("a") == F.col("sa_id"))
        .join(
            sb,
            (F.col("b") == F.col("sb_id")) & (F.col("i_a") == F.col("i_b")),
        )
        .groupBy("a", "b")
        .agg(
            F.sum(F.when(F.col("mh_a") == F.col("mh_b"), 1).otherwise(0))
            .cast("bigint")
            .alias("est_matches")
        )
    )
    u = F.col("na") + F.col("nb") - F.col("inter")
    q = est.join(jac, ["a", "b"]).select(
        "est_matches",
        "inter",
        u.alias("u"),
        F.col("jaccard"),
    )
    return q.groupBy("est_matches").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.floor(F.col("jaccard") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("jaccard_grid_sum"),
        F.sum(
            F.when(
                5
                * F.abs(
                    F.col("est_matches") * F.col("u")
                    - MINHASH_HASHES * F.col("inter")
                )
                <= 28 * F.col("u"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_within"),
    )


@query(
    "bigram_lm_score",
    oracle=_TOKENS_CTE
    + """
    , arr AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS a FROM documents
    ), bi AS (
      SELECT doc_id, UNNEST(a[:-2]) AS w1, UNNEST(a[2:]) AS w2 FROM arr
    ), bic AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2
    ), pre AS (
      SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1
    ), vocab AS (
      SELECT COUNT(DISTINCT token) AS v FROM toks
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bi,
           CAST(SUM(CAST(FLOOR(LN(CAST(c.c12 + 1 AS DOUBLE) / (p.c1 + vv.v))
                               * 1000000) AS BIGINT)) AS BIGINT)
             AS logp_grid_sum
    FROM bi b
    JOIN bic c ON c.w1 = b.w1 AND c.w2 = b.w2
    JOIN pre p ON p.w1 = b.w1
    CROSS JOIN vocab vv
    GROUP BY b.doc_id
    """,
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring — the second-order sibling of
    ``unigram_lm_score``: score(doc) = sum over adjacent token pairs of
    ln P(w2 | w1) under an add-1-smoothed corpus bigram model,
    P(w2|w1) = (c(w1,w2) + 1) / (c(w1 as prefix) + |V|). Garbled or
    shuffled text scores low even when its unigram mix looks normal —
    the standard next step up in LM-proxy quality filtering.

    Exactness: each term is one integer-ratio division -> LN -> 1e-6
    grid floor, summed as BIGINT (``grid_sum`` discipline — order-
    independent, unlike a double AVG). Scale: bigrams come from the
    shift-zip (no self-join); the bigram/prefix count joins carry no
    broadcast hint (vocab is unbounded at 100 TB — same reasoning as
    ``pmi_bigrams``), leaving strategy to AQE; one shuffle per count +
    the final per-doc agg.
    """
    d = load_table(spark, sf_dir, "documents")
    arr = d.select("doc_id", F.split("text", " ").alias("a"))
    bi = arr.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("a"), 1, F.size("a") - 1),
                F.slice(F.col("a"), 2, F.size("a") - 1),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z.0").alias("w1"), F.col("z.1").alias("w2"))
    bic = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    pre = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        tokens(d)
        .select("token")
        .agg(F.countDistinct("token").alias("v"))
    )
    term = (
        bi.join(bic, ["w1", "w2"])
        .join(pre, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v"))
            ).alias("logp"),
        )
    )
    return term.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bi"),
        F.sum(F.floor(F.col("logp") * 1000000).cast("bigint"))
        .cast("bigint")
        .alias("logp_grid_sum"),
    )


@query(
    "containment_pairs",
    oracle="""
    WITH t0 AS (
      SELECT DISTINCT doc_id, lang,
             UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ), bs AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs FROM t0 GROUP BY lang
    ), dfc AS (
      SELECT lang, token, COUNT(*) AS df FROM t0 GROUP BY lang, token
    ), t AS (
      SELECT t0.doc_id, t0.lang, t0.token
      FROM t0 JOIN dfc USING (lang, token) JOIN bs USING (lang)
      WHERE dfc.df * 5 <= 1 * bs.n_docs
    ), counts AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM t GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.a, i.b,
           CAST(i.inter AS BIGINT) AS inter,
           CAST(LEAST(ca.n_tok, cb.n_tok) AS BIGINT) AS n_small,
           (i.inter * 1000000) // LEAST(ca.n_tok, cb.n_tok)
             AS containment_grid
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.a
    JOIN counts cb ON cb.doc_id = i.b
    WHERE i.inter * 10 >= 8 * LEAST(ca.n_tok, cb.n_tok)
    """,
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: token-set CONTAINMENT
    |A n B| / min(|A|, |B|) >= 0.8 — the measure that catches a short
    document embedded inside a long one (quotes, syndicated excerpts,
    header-wrapped reposts), which symmetric Jaccard (i4) structurally
    under-scores: a 50-token doc fully inside a 500-token doc has
    containment 1.0 but Jaccard 0.1.

    Same scale machinery as i4 — lang-blocked inverted-index join with
    the integer df-cap (stop-word fan-out guard) — but the threshold is
    the division-free ``inter*10 >= 8*min(na,nb)`` and the score is an
    exact 1e-6 integer grid, so no doubles exist anywhere in the query.
    One machinery with i4/i4c: ``operators.text.containment_pairs_op``
    shares ``df_capped_shingle_stream`` and is differentially
    property-tested against a Python brute force.
    """
    d = load_table(spark, sf_dir, "documents")
    return containment_pairs_op(
        d, threshold_num=8, threshold_den=10, max_df_frac=0.2
    )


@query(
    "containment_df_stats",
    oracle="""
    WITH t0 AS (
      SELECT DISTINCT doc_id, lang,
             UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ), bs AS (
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs FROM t0 GROUP BY lang
    ), dfc AS (
      SELECT lang, token, COUNT(*) AS df FROM t0 GROUP BY lang, token
    )
    SELECT d.lang AS block,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN d.df * 5 <= bs.n_docs THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN d.df * 5 > bs.n_docs THEN 1 ELSE 0 END)
                AS BIGINT) AS n_diverted,
           CAST(SUM(CASE WHEN d.df * 5 <= bs.n_docs
                         THEN d.df * (d.df - 1) // 2 ELSE 0 END)
                AS BIGINT) AS kept_pairs,
           CAST(SUM(CASE WHEN d.df * 5 > bs.n_docs
                         THEN d.df * (d.df - 1) // 2 ELSE 0 END)
                AS BIGINT) AS diverted_pairs
    FROM dfc d JOIN bs USING (lang)
    GROUP BY d.lang
    """,
)
def containment_df_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Divert report for the df-cap in ``containment_pairs`` (and i4's
    inverted-index family): per lang block, how many distinct tokens the
    df <= n_docs/5 cap keeps vs diverts, and the candidate-pair mass
    (df*(df-1)/2 per token) each class would feed the index join —
    ``lsh_bucket_stats``'s sibling, so the asymmetric path's truncation
    is a measured, driver-hashed number instead of an unobserved knob
    (VERDICT r5 item 6).

    Scale: the same distinct token stream + (block, token) groupBy the
    capped join already computes, then a per-block agg over vocab-sized
    input — no self-join, no pair materialization anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.col("lang").alias("block"),
        F.explode(F.split("text", " ")).alias("token"),
    ).distinct()
    block_sizes = (
        t.select("block", "doc_id").distinct()
        .groupBy("block").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    dfc = t.groupBy("block", "token").agg(F.count(F.lit(1)).alias("df"))
    kept = F.col("df") * 5 <= F.col("n_docs")
    # df*(df-1) is always even, so integer DIV 2 is exact — all-integer
    # algebra end to end, no doubles to drift cross-engine
    pair_mass = F.expr("df * (df - 1) div 2")
    return (
        dfc.join(F.broadcast(block_sizes), "block")
        .groupBy("block")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum((~kept).cast("long")).alias("n_diverted"),
            F.sum(F.when(kept, pair_mass).otherwise(F.lit(0)))
            .cast("long")
            .alias("kept_pairs"),
            F.sum(F.when(~kept, pair_mass).otherwise(F.lit(0)))
            .cast("long")
            .alias("diverted_pairs"),
        )
    )


@query(
    "token_entropy",
    oracle=_TOKENS_CTE
    + """
    , c AS (
      SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY doc_id, token
    ), agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tok,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(CAST(FLOOR(c * LN(CAST(c AS DOUBLE)) * 1000000)
                           AS BIGINT)) AS BIGINT) AS clnc_grid
      FROM c GROUP BY doc_id
    )
    SELECT doc_id, n_tok, n_distinct, clnc_grid,
           ROUND(LN(CAST(n_tok AS DOUBLE))
                 - (clnc_grid / 1000000.0) / n_tok, 6) AS entropy_nats
    FROM agg
    """,
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the diversity
    score that flags repeated-token spam and keyword stuffing (low
    entropy at normal length) from the opposite direction as
    ``gopher_repetition``'s top-fraction tests; H = ln(n) - (sum c*ln c)/n
    over per-doc token counts.

    Exactness: the only per-term double is c*ln(c) from an integer
    count, floored onto the 1e-6 grid and summed as BIGINT (order-
    independent); the final H is one fixed expression over integers,
    ROUND(...,6) both sides. Scale: two map-side-combined aggs on the
    (doc, token) stream — no joins, no vocab broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    c = (
        tokens(d)
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(
            F.floor(F.col("c") * F.log(F.col("c").cast("double")) * 1000000)
            .cast("long")
        )
        .cast("long")
        .alias("clnc_grid"),
    )
    return agg.select(
        "doc_id",
        "n_tok",
        "n_distinct",
        "clnc_grid",
        F.round(
            F.log(F.col("n_tok").cast("double"))
            - (F.col("clnc_grid") / 1000000.0) / F.col("n_tok"),
            6,
        ).alias("entropy_nats"),
    )


@query(
    "lang_id_confusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents
    ), freq AS (
      SELECT lang AS cand_lang, token, COUNT(*) AS freq
      FROM toks GROUP BY lang, token
    ), scores AS (
      SELECT t.doc_id, t.lang, f.cand_lang,
             CAST(SUM(f.freq) AS BIGINT) AS score
      FROM toks t JOIN freq f ON f.token = t.token
      GROUP BY t.doc_id, t.lang, f.cand_lang
    ), pred AS (
      SELECT doc_id, lang, cand_lang AS pred_lang
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY score DESC, cand_lang) AS rn FROM scores)
      WHERE rn = 1
    ), cells AS (
      SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, pred_lang
    ), tot AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total
      FROM cells GROUP BY lang
    )
    SELECT c.lang, c.pred_lang, c.n, t.lang_total,
           (c.n * 1000000) // t.lang_total AS share_grid
    FROM cells c JOIN tot t USING (lang)
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier quality gate for ``lang_id``: the full confusion
    matrix (actual x predicted language) with exact integer-grid row
    shares — the accuracy-measurement row that turns the language
    identifier from "implemented" into "measured" (the retrieval-path
    recall gates' sibling for a classifier; diagonal shares are
    per-language accuracy, off-diagonal cells SHOW the confusions).

    Reuses the registered lang_id plan wholesale and adds two tiny aggs
    — at most |langs|^2 output cells at any corpus size.
    """
    pred = lang_id(spark, sf_dir).select("lang", "pred_lang")
    cells = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.groupBy("lang").agg(F.sum("n").cast("long").alias("lang_total"))
    return cells.join(tot, "lang").select(
        "lang",
        "pred_lang",
        "n",
        "lang_total",
        F.expr("(n * 1000000) div lang_total").alias("share_grid"),
    )


@query(
    "bm25_topk",
    oracle=_TOKENS_CTE
    + """
    , q AS (SELECT UNNEST(['join', 'hash', 'vector']) AS term
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len
      FROM dl
    ), tf AS (
      SELECT t.doc_id, t.token AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks t JOIN q ON q.term = t.token
      GROUP BY t.doc_id, t.token
    ), df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               LN((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * s.n_docs
                                         / CAST(s.total_len AS DOUBLE)))
               * 1000000) AS BIGINT) AS term_grid
      FROM tf
      JOIN df USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    )
    SELECT doc_id, CAST(SUM(term_grid) AS BIGINT) AS bm25_grid
    FROM scored GROUP BY doc_id
    ORDER BY bm25_grid DESC, doc_id
    LIMIT 20
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: Okapi BM25 top-20 for a fixed 3-term query
    (k1=1.2, b=0.75) — the standard sparse ranking function, completing
    the retrieval family's lexical leg next to the four dense ANN paths
    (hybrid search = this plus cosine top-k).

    Exactness: every BM25 input is an integer count (tf, df, dl, N,
    total length); each (doc, term) partial score is ONE fixed double
    expression floored onto the 1e-6 grid, then summed as BIGINT —
    order-independent like every grid sum in this repo. The avgdl
    division is folded as dl*N/total_len so both engines evaluate the
    identical expression tree. Scale: tf is a semi-join of the token
    stream against the tiny query-term set (pushdown-friendly), df/dl
    are one agg each, and the final TopK is TakeOrderedAndProject.

    Scoring is ``bm25_scores`` — the single copy of the grid pipeline
    shared with ``hybrid_rrf_search`` (ADVICE r5: the two copies could
    silently drift).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        bm25_scores(d, ["join", "hash", "vector"])
        .orderBy(F.desc("bm25_grid"), F.asc("doc_id"))
        .limit(20)
    )


def bm25_scores(d: DataFrame, terms: list[str]) -> DataFrame:
    """Unlimited BM25 grid scores (doc_id, bm25_grid) for a term set —
    the scoring core of ``bm25_topk``, reused by the hybrid fusion
    query. Same exact-grid math, no top-k cut."""
    toks = tokens(d).select("doc_id", "token")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    tf = (
        toks.filter(F.col("token").isin(terms))
        .groupBy("doc_id", F.col("token").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (
                        0.25
                        + 0.75
                        * F.col("dl")
                        * F.col("n_docs")
                        / F.col("total_len").cast("double")
                    )
                )
                * 1000000
            )
            .cast("long")
            .alias("term_grid"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("term_grid").cast("long").alias("bm25_grid")
    )
