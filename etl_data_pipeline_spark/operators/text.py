"""Text / LLM-data-pipeline operators (SURVEY.md §2 category I + the
training-data operators from the north star: dedup family, text
analysis, fingerprinting).

Everything here is pure DataFrame composition — token explode, hash,
self-join, window — so Catalyst owns the physical plan and each operator
scales by partitioning on doc/token keys.

Each curation stage has one definition here, which every query calls:
``exact_dedup`` (keep-min content dedup), ``quality_cols`` (quality
score), ``mixture_keep`` (mixture sampler), ``word_ngrams`` (word
n-grams) and ``EVAL_MOD`` (the held-out eval slice).

Cross-engine hash: ``md5_hash32`` maps any string to a stable 32-bit int
identically in Spark (``conv(substring(md5(x),1,8),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,8))::BIGINT``) — the foundation for
MinHash/SimHash parity with the oracle, and (unlike a dense_rank vocab id)
it needs no global sort, so it is also the 100 TB path.

Input contract: ``doc_id`` is UNIQUE per input row.  The near-dup
operators dedup each document's tokens row-locally (``array_distinct``
before the explode in ``_minhash_wide`` and ``exact_jaccard_on_pairs``),
which equals a global (doc_id, token) distinct only then; duplicate
doc_id rows would double-count tokens in set sizes, minhashes and
Jaccard instead of being deduped.  Every caller feeds the ``documents``
table, whose doc_id is a primary key
(tests/test_incremental.py::test_documents_doc_id_unique pins the
fixture); ``exact_dedup`` is the operator for collapsing duplicate
CONTENT — duplicate ids are a malformed input, not a near-dup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from etl_data_pipeline_spark.materialize import materialize

#: modulus for affine MinHash permutations; prime, small enough that
#: a_i * h stays far below int64 overflow.
MINHASH_P = 1_000_003

#: Default cap on LSH band-bucket size. A bucket of m docs fans out to
#: m*(m-1)/2 candidate pairs inside the band join; oversized buckets are
#: boilerplate/template text (measured on this corpus: at sf0.1 the four
#: largest buckets are ~2300 docs and carry 10.6M of the 10.9M candidate
#: pairs) and are DIVERTED from pairwise expansion — they belong to
#: exact-dedup / cluster-by-bucket handling instead.  100 caps any one
#: bucket at <= 4950 pairs, keeping total candidates linear-ish in corpus
#: size at 100 TB.  ``lsh_bucket_stats`` (plans/text.py) is the divert
#: report: per-size bucket counts with the oversized flag.
LSH_MAX_BUCKET_SIZE = 100

#: MinHash signature shape: 16 affine permutations, banded 4 rows per
#: LSH band (4 bands; the S-curve crosses ~0.7 similarity).  The band
#: rows must divide the hashes.  The DuckDB oracles
#: (plans/text.py::MINHASH_BANDS_BODY, minhash_est_quality) and the
#: Python mirrors are rendered from these, so they cannot drift apart.
MINHASH_HASHES = 16
MINHASH_BAND_ROWS = 4

#: SimHash near-dup shape: 32-bit fingerprints cut into 4 equal
#: bit-slices — pigeonhole-exact for any max_hamming below 4.
SIMHASH_BITS = 32
SIMHASH_BANDS = 4

#: Held-out eval slice of the corpus: documents with ``doc_id % EVAL_MOD
#: == 0`` stand in for a benchmark (decontamination, pretrain_corpus).
EVAL_MOD = 97


def md5_hash32(col: Column) -> Column:
    """Stable 32-bit string hash reproducible in ANSI SQL (see module doc)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def tokens(docs: DataFrame) -> DataFrame:
    """Explode documents into (doc row..., pos, token). One narrow stage."""
    return docs.select(
        "*", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """I3: exact dedup by content hash, deterministic keep-min-doc_id.
    Every input column of the kept row, plus ``content_hash`` and
    ``n_copies`` (the group size).

    Scale: one shuffle on the 256-bit hash. This is the always-first
    dedup pass in a training-data pipeline.  A caller that never reads
    ``n_copies`` gets its window pruned, and the ``rn = 1`` filter then
    becomes a WindowGroupLimit (tests/test_plans.py pins it).
    """
    hashed = docs.withColumn("content_hash", F.sha2("text", 256))
    w = Window.partitionBy("content_hash")
    return (
        hashed.select(
            "*",
            F.row_number().over(w.orderBy("doc_id")).alias("rn"),
            F.count(F.lit(1)).over(w).alias("n_copies"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def quality_cols() -> tuple[Column, Column, Column]:
    """The document quality heuristic over ``text``'s space tokens:
    ``(type_token_ratio, stopword_ratio, quality)`` with quality =
    0.5 * type/token + 0.3 * (1 - stopword share) + 0.2 * length factor
    (tokens / 30, capped at 1).  Row-local, all integer ratios."""
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("double")
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin("the", "a"))).cast("double")
        / n_tokens
    )
    length_factor = F.when(F.size(toks) >= 30, F.lit(1.0)).otherwise(
        n_tokens / F.lit(30.0)
    )
    quality = 0.5 * ttr + 0.3 * (F.lit(1.0) - stop_ratio) + 0.2 * length_factor
    return ttr, stop_ratio, quality


def mixture_keep() -> Column:
    """Training-mixture acceptance: per-``lang`` rate against a
    deterministic Knuth multiplicative hash of ``doc_id`` in [0, 1) —
    pure integer arithmetic, so the sample is the same across engines,
    runs and repartitions."""
    u = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(4294967296)) / F.lit(
        4294967296.0
    )
    rate = (
        F.when(F.col("lang") == "en", 0.9)
        .when(F.col("lang") == "de", 0.5)
        .when(F.col("lang") == "fr", 0.5)
        .when(F.col("lang") == "es", 0.25)
        .when(F.col("lang") == "zh", 0.1)
        .otherwise(0.05)
    )
    return u < rate


def word_ngrams(n: int) -> Column:
    """The array of ``text``'s word n-grams (space-joined, in order).  A
    document with fewer than ``n`` tokens has none: the slice length is
    ``greatest(size(s) - (n - 1), 0)``, where a negative length would
    raise.  The DuckDB oracles' ``GENERATE_SERIES(1, LEN(s) - (n - 1))``
    is empty there too.

    The outer one-element ``transform`` binds the token array to ``s``,
    so the text is split once per row.  Explode this expression itself,
    not a column holding it: Catalyst infers ``size(col) > 0`` for an
    exploded column and pushes it below the projection, which builds
    every n-gram array twice."""
    return F.expr(
        f"transform(array(split(text, ' ')), s -> transform("
        f"slice(s, 1, greatest(size(s) - {n - 1}, 0)),"
        f" (x, i) -> concat_ws(' ', slice(s, i + 1, {n}))))[0]"
    )


def df_capped_shingle_stream(
    docs: DataFrame, max_df_frac: float | None = None, shingle_n: int = 1
) -> DataFrame:
    """Shared front-end of every exact set-overlap verifier
    (jaccard_pairs / containment_pairs): the distinct
    ``(doc_id, block, token, n_tok)`` shingle stream with the integer
    df-cap applied and the per-doc set size attached.  The block is the
    document's ``lang``.

    ``shingle_n`` picks the set elements: 1 = word tokens, 2 = word
    bigrams (more selective — fewer candidate pairs downstream).

    ``max_df_frac`` is the quadratic-fan-out guard: shingles whose
    document frequency exceeds that fraction of the block's docs (stop
    words / stop-bigrams) are dropped BEFORE ``n_tok`` is computed, so
    any single shingle's downstream join fan-out is capped at
    (max_df_frac * |block|)^2 instead of |block|^2.  The comparison is
    integer (df * den <= num * n_docs): a double product
    (max_df_frac * n_docs) can round across an exact integer boundary
    and flip a shingle's inclusion vs a DECIMAL-arithmetic oracle —
    the float-boundary class this repo guards against everywhere else.

    The stream feeds up to four consumers downstream (block sizes, df
    counts, per-doc counts, both self-join sides); without a
    materialization point Spark re-scans the corpus for each
    (executed-plan audit: 12 scans, 0 reused exchanges).  The deduped
    stream is strictly smaller than the corpus, so computing it once
    is the 100 TB-correct trade.
    """
    if shingle_n == 1:
        sh = F.explode(F.split("text", " "))
    elif shingle_n == 2:
        sh = F.explode(word_ngrams(2))
    else:
        raise ValueError(f"shingle_n must be 1 or 2, got {shingle_n}")
    t = docs.select(
        "doc_id",
        F.col("lang").alias("block"),
        sh.alias("token"),
    ).distinct()
    t = materialize(t)
    if max_df_frac is not None:
        from fractions import Fraction

        frac = Fraction(max_df_frac).limit_denominator(1_000_000)
        block_sizes = (
            t.select("block", "doc_id")
            .distinct()
            .groupBy("block")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        dfc = t.groupBy("block", "token").agg(F.count(F.lit(1)).alias("df"))
        keep = (
            dfc.join(F.broadcast(block_sizes), "block")
            .filter(
                F.col("df") * F.lit(frac.denominator)
                <= F.lit(frac.numerator) * F.col("n_docs")
            )
            .select("block", "token")
        )
        t = t.join(keep, ["block", "token"])
    counts = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    return materialize(t.join(counts, "doc_id"))  # feeds both join sides


def _pair_intersections(t: DataFrame) -> DataFrame:
    """(a, b, na, nb, inter) for every doc pair a < b sharing a shingle in
    a block: the inverted-index self-join on (block, token) over
    ``df_capped_shingle_stream`` output, counted per pair."""
    a = t.select(
        "block", "token",
        F.col("doc_id").alias("a"), F.col("n_tok").alias("na"),
    )
    b = t.select(
        F.col("block").alias("block_b"), F.col("token").alias("token_b"),
        F.col("doc_id").alias("b"), F.col("n_tok").alias("nb"),
    )
    return (
        a.join(
            b,
            (a.block == b.block_b) & (a.token == b.token_b) & (a.a < b.b),
        )
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    max_df_frac: float | None = None,
    shingle_n: int = 1,
) -> DataFrame:
    """I4: all-pairs shingle-set Jaccard within a ``lang`` block.

    Blocked self-join on (block, shingle): candidate pairs only
    materialize for docs sharing a shingle and block — the classic
    inverted-index join.  At 100 TB the block must be finer (LSH bands:
    see minhash_lsh_pairs); this exact variant is the verifier those
    candidates feed into.

    ``shingle_n`` picks the set elements: 1 = word tokens (i4),
    2 = word bigrams (i4c — more selective, so the self-join
    materializes fewer candidate pairs).

    ``max_df_frac`` is the quadratic-fan-out guard: shingles whose
    document frequency exceeds that fraction of the block's docs (stop
    words / stop-bigrams) are dropped BEFORE set sizes are computed,
    capping any single shingle's join fan-out at
    (max_df_frac * |block|)^2 instead of |block|^2.  Jaccard is then
    over the filtered shingle sets on both engines.

    Rejected alternative, measured 2026-08-14 (don't retry without a
    Zipf corpus): WWW'07 prefix filtering (index only each doc's
    rarest ``n - ceil(tau*n) + 1`` shingles under a global df order,
    then verify candidates exactly — output provably identical, and it
    WAS hash-identical here).  On this fixed-vocab synthetic corpus it
    ran 19.5 s vs 8.2 s direct at sf0.1 (bigrams, tau=0.5): there are
    no genuinely rare shingles (min per-shingle df ~ n/150, every df
    grows linearly with the corpus), so prefix collisions stay dense
    while the extra candidate-distinct + verify joins add two more
    shuffles.  Prefix filtering pays off when the df distribution has
    a Zipf tail (real text); the direct capped join is the better plan
    when it does not.  The genuinely sub-quadratic scale path either
    way is minhash_lsh_pairs (measured 10x-data slope 1.9 vs 7.5
    here) — this exact variant is its verifier/cost model, and is
    marked expected-superlinear in tools/slope_audit.py with this
    rationale.
    """
    t = df_capped_shingle_stream(docs, max_df_frac, shingle_n)
    inter = _pair_intersections(t)
    jac = inter.withColumn(
        "jaccard",
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
    )
    return jac.filter(F.col("jaccard") >= threshold).select(
        "a", "b", "inter", "jaccard"
    )


def containment_pairs_op(
    docs: DataFrame,
    threshold_num: int = 8,
    threshold_den: int = 10,
    max_df_frac: float | None = 0.2,
) -> DataFrame:
    """Asymmetric near-dup detection: token-set CONTAINMENT
    |A n B| / min(|A|, |B|) >= num/den — the measure that catches a
    short document embedded inside a long one, which symmetric Jaccard
    structurally under-scores.  Same front-end as jaccard_pairs
    (``df_capped_shingle_stream``); the threshold is the division-free
    integer comparison ``inter*den >= num*min(na,nb)`` and the score an
    exact 1e-6 integer grid, so no doubles exist anywhere.
    """
    inter = _pair_intersections(df_capped_shingle_stream(docs, max_df_frac))
    small = F.least(F.col("na"), F.col("nb"))
    return (
        inter.filter(
            F.col("inter") * F.lit(threshold_den)
            >= F.lit(threshold_num) * small
        )
        .select(
            "a",
            "b",
            F.col("inter").cast("long").alias("inter"),
            small.cast("long").alias("n_small"),
            F.expr(
                "(inter * 1000000) div least(na, nb)"
            ).alias("containment_grid"),
        )
    )


def _minhash_wide(docs: DataFrame) -> DataFrame:
    """One row per doc with all ``MINHASH_HASHES`` minhashes as columns
    m0..m15 — ONE groupBy over the distinct (doc_id, token) stream with
    one min-aggregate per permutation, instead of exploding every token
    row 16 times before aggregating (a 16x row amplification on the hot
    shared path of the whole LSH family; the per-permutation affine
    constants fold into each aggregate's expression).

    The (doc_id, token) distinct is row-local — array_distinct BEFORE
    the explode, under the module's unique-doc_id contract: per-doc
    token dedup needs no cross-row information, so a global
    ``.distinct()`` — a full shuffle of the ~55x-exploded token stream,
    4,294 executor-seconds (48% of the query, 681 s of JVM GC, zero
    spill) in the sf100 stage profile — is pure waste.  The groupBy
    below map-side-combines doc-adjacent exploded rows down to one row
    per doc before its shuffle."""
    t = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
        )
        .withColumn("h", md5_hash32(F.col("token")) % MINHASH_P)
    )
    return t.groupBy("doc_id").agg(
        *[
            F.min(
                (
                    F.lit(i * 37 + 11) * F.col("h")
                    + F.lit(i * 104729 + 17)
                )
                % MINHASH_P
            ).alias(f"m{i}")
            for i in range(MINHASH_HASHES)
        ]
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """MinHash signatures: (doc_id, i, minhash) for i in [0, 16).

    Affine permutations h_i(x) = (a_i * x + b_i) mod P over the md5-based
    token hash. Pure groupBy(min) — no global state, linear scale-out;
    the long format is unpivoted from the wide per-doc aggregate AFTER
    the shuffle, so the amplification happens on |docs| rows, not
    |tokens|.
    """
    return _minhash_wide(docs).select(
        "doc_id",
        F.posexplode(
            F.array(*[F.col(f"m{i}") for i in range(MINHASH_HASHES)])
        ).alias("i", "minhash"),
    )


def minhash_bands(docs: DataFrame) -> DataFrame:
    """LSH banding stage: (doc_id, band, band_key) — ``MINHASH_BAND_ROWS``
    consecutive signature rows concatenated into the bucket key. Shared
    by ``lsh_candidate_pairs`` (candidate join), the incremental index
    (``probe_neardup_index``) and the bucket-size divert report
    (plans/text.py::lsh_bucket_stats).  Band keys come straight off the
    wide per-doc aggregate (concat of the band's minhash columns,
    ascending i), with no second groupBy(doc_id, band)."""
    r = MINHASH_BAND_ROWS
    return _minhash_wide(docs).select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "-",
                        *[F.col(f"m{b * r + j}").cast("string") for j in range(r)],
                    )
                    for b in range(MINHASH_HASHES // r)
                ]
            )
        ).alias("band", "band_key"),
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """I4 scale path: MinHash + LSH banding near-dup detection.

    Bands of ``MINHASH_BAND_ROWS`` signature rows hash candidate pairs
    into buckets (join on the band key — never all-pairs); candidates
    are then verified with exact token-set Jaccard.

    ``max_bucket_size`` is the quadratic-fan-out guard (the LSH sibling
    of ``jaccard_pairs``' max_df_frac): buckets larger than the cap are
    boilerplate/template clusters and are dropped BEFORE the band
    self-join, so no single bucket can contribute more than
    cap*(cap-1)/2 candidate pairs.  Diverted buckets are exactly the
    rows ``lsh_bucket_stats`` flags oversized; route them to exact-dedup
    / cluster-by-bucket handling.  ``None`` disables the cap.
    """
    cand = lsh_candidate_pairs(docs, max_bucket_size)
    return verified_pairs(docs, cand, threshold)


def cap_buckets(bands: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop every (band, band_key) bucket holding more than
    ``max_bucket_size`` rows (see ``LSH_MAX_BUCKET_SIZE``); ``None``
    keeps all.  The count is a window on the band-join key, so it rides
    the hash partitioning the join that follows needs anyway."""
    if max_bucket_size is None:
        return bands
    wb = Window.partitionBy("band", "band_key")
    return (
        bands.withColumn("bucket_n", F.count(F.lit(1)).over(wb))
        .filter(F.col("bucket_n") <= max_bucket_size)
        .drop("bucket_n")
    )


def band_join(left: DataFrame, right: DataFrame, keep: Column) -> DataFrame:
    """The LSH candidate join: every (a, b) with ``a`` from ``left`` and
    ``b`` from ``right`` (both capped (doc_id, band, band_key) frames)
    sharing a band bucket, kept where ``keep`` (a predicate over the
    columns ``a`` and ``b``) holds.  One row per shared bucket; callers
    project and dedup."""
    lhs = left.select(
        F.col("band").alias("band_l"),
        F.col("band_key").alias("key_l"),
        F.col("doc_id").alias("a"),
    )
    rhs = right.select(
        F.col("band").alias("band_r"),
        F.col("band_key").alias("key_r"),
        F.col("doc_id").alias("b"),
    )
    return lhs.join(
        rhs, (lhs.band_l == rhs.band_r) & (lhs.key_l == rhs.key_r) & keep
    )


def lsh_candidate_pairs(
    docs: DataFrame, max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE
) -> DataFrame:
    """Candidate (a, b) pairs from the capped band self-join — the
    generation stage of ``minhash_lsh_pairs``, exposed so quality
    audits (plans/text.py::minhash_est_quality) can inspect the
    UNVERIFIED candidate set.

    The returned pair set is materialized: every consumer reads it at
    least twice (exact_jaccard_on_pairs feeds both its inter join and
    its final left join; minhash_est_quality adds the signature-compare
    leg), and each re-read would repeat the (band, band_key) shuffle
    self-join + distinct.  The cached rows are two longs per candidate,
    so the persist is output-scale, not corpus-scale.  Interleaved A/B
    at sf0.1, identical 58,418 / 13 rows: i4b 4.95/3.77/3.37 ->
    3.96/3.36/2.97 s, est_quality 4.72/4.31/3.86 -> 3.85/3.86/3.81 s."""
    bands = cap_buckets(materialize(minhash_bands(docs)), max_bucket_size)
    return materialize(
        band_join(bands, bands, F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def probe_neardup_index(
    index: DataFrame,
    new_docs: DataFrame,
    all_docs: DataFrame,
    threshold: float,
    max_bucket_size: int | None = LSH_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Incremental near-dup, the operation a daily ingest runs: verified
    pairs ``(a, b, jaccard)`` touching ``new_docs``, found against a
    standing corpus's persisted LSH ``index`` (its ``minhash_bands``
    rows, built once and only appended to) WITHOUT recomputing any
    corpus signature.  ``all_docs`` supplies the text of candidate
    members for the exact verify.

    Equivalence contract: the output is bit-identical to the
    full-corpus ``minhash_lsh_pairs`` restricted to pairs touching the
    new batch, because
      - banding is row-local per doc, so banding old and new separately
        yields the same rows as banding the union;
      - the bucket cap is computed over index ∪ new bands — the same
        bucket populations the full run sees (a cap over the index
        alone diverges once a new doc tips a bucket over the cap);
      - the band join keeps (new x old) and (new x new) pairs,
        normalized to a < b;
      - the verify reads documents semi-joined to candidate members,
        which cannot change any per-doc token set.

    Scale: per batch of b docs the probe reads b documents + the skinny
    index (no text), and exact-verifies only candidate members —
    O(b + candidates) besides the index scan, vs the full run's O(n)
    re-signature + re-join.

    The candidate pair set is materialized because four consumers read
    it (the touched-doc semi-join via both union legs, and
    exact_jaccard_on_pairs' inter join and final left join); each would
    otherwise re-run the band self-join + distinct, a shuffle.  Measured
    at sf0.1 (interleaved A/B): 4.1-4.9 s -> 3.4-3.7 s warm, identical
    11,409 rows.  ``touched`` is materialized for the same reason: it is
    the semi-join build side behind all three token-stream recomputes
    inside exact_jaccard_on_pairs."""
    allb = cap_buckets(
        materialize(
            index.withColumn("is_new", F.lit(False)).unionByName(
                minhash_bands(new_docs).withColumn("is_new", F.lit(True))
            )
        ),
        max_bucket_size,
    )
    cand = materialize(
        band_join(allb.filter(F.col("is_new")), allb, F.col("a") != F.col("b"))
        # (new, old) and (old, new) collapse; new x new pairs appear
        # from both sides and collapse the same way
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    touched = materialize(
        cand.select(F.col("a").alias("doc_id"))
        .unionByName(cand.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    docs_t = all_docs.join(touched, "doc_id", "left_semi")
    return verified_pairs(docs_t, cand, threshold)


def verified_pairs(docs: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """The LSH verify tail: candidate pairs whose exact token-set Jaccard
    is at least ``threshold``, as (a, b, jaccard)."""
    jac = exact_jaccard_on_pairs(docs, cand)
    return jac.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def exact_jaccard_on_pairs(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact token-set Jaccard restricted to a candidate pair set:
    (a, b, inter, na, nb, jaccard) — never all-pairs; pairs sharing
    zero tokens are kept with inter = 0 so callers see the full
    candidate set.  Extra columns on ``cand`` are dropped.

    Contract: ``documents.text`` is non-NULL — the generator never
    emits NULL text, and a NULL would survive as a NULL-array pair;
    empty text is one token (split('') = ['']); doc_id is unique (the
    module docstring's input contract).

    The intersection is computed per pair with ``array_intersect`` over
    each doc's row-local distinct-token ARRAY: ``size(array_intersect(ta,
    tb))`` over distinct arrays IS |A ∩ B|, and ``size(toks)`` IS the
    set size.  Against an inverted-index form (explode both sides,
    equi-join on (token, b), count matches) the token columns ship as
    ONE array row per doc instead of ~40 exploded rows per doc, and the
    (candidate fan-out x 40 rows) intermediate is gone — per pair the
    intersection is a task-local hash probe.  Interleaved A/B through
    the full i4b with byte-identical pair sets (58,418 / 150,003 /
    512,708 pairs): sf0.1 1.90 -> 1.77 s, sf1 4.00 -> 3.45 s, sf10
    27.7 -> 24.3 s min-of-4.

    The token-array frame is derived row-locally per consumer (one
    parquet scan + split + array_distinct), never cached."""
    tok = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    ta = tok.select(F.col("doc_id").alias("a"), F.col("toks").alias("toks_a"))
    tb = tok.select(F.col("doc_id").alias("b"), F.col("toks").alias("toks_b"))
    return (
        cand.join(ta, "a")
        .join(tb, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("toks_a", "toks_b"))
            .cast("long")
            .alias("inter"),
            F.size("toks_a").cast("long").alias("na"),
            F.size("toks_b").cast("long").alias("nb"),
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
    )


def simhash_fingerprints(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash: tf-weighted ±1 vote per bit of the token hash, sign →
    fingerprint bit. Near-identical docs land within small Hamming
    distance. Returns (doc_id, simhash)."""
    t = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", md5_hash32(F.col("token")))
    )
    votes = t.select(
        "doc_id",
        "tf",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j"),
    ).select(
        "doc_id",
        "j",
        (
            F.col("tf")
            * (
                (
                    F.floor(F.col("h") / F.pow(F.lit(2.0), F.col("j")).cast("long"))
                    % 2
                )
                * 2
                - 1
            )
        ).alias("vote"),
    )
    bitvals = (
        votes.groupBy("doc_id", "j")
        .agg(F.sum("vote").alias("v"))
        .select(
            "doc_id",
            F.when(
                F.col("v") > 0, F.pow(F.lit(2.0), F.col("j")).cast("long")
            )
            .otherwise(F.lit(0))
            .alias("bitval"),
        )
    )
    return bitvals.groupBy("doc_id").agg(F.sum("bitval").alias("simhash"))


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs via Hamming-band LSH: split the
    ``SIMHASH_BITS``-bit fingerprint into ``SIMHASH_BANDS`` equal
    bit-slices and equi-join docs that share any slice, then keep
    candidates within ``max_hamming``.

    By pigeonhole the banding is EXACT (not approximate) whenever
    ``max_hamming < SIMHASH_BANDS``: a pair differing in <= max_hamming bits
    cannot touch every band, so at least one band matches and the pair
    is generated. Candidate generation is therefore an equi-join on
    (band index, band value) — one shuffle, never all-pairs — and the
    result is identical to the O(n^2) scan an oracle runs at test scale.
    Returns (a, b, hamming) with a < b.
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    sh = simhash_fingerprints(docs, bits=SIMHASH_BITS)
    slices = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("k"),
    ).select(
        "doc_id",
        "simhash",
        "k",
        F.expr(f"shiftright(simhash, k * {width}) & {(1 << width) - 1}").alias(
            "band_val"
        ),
    )
    left = slices.select(
        F.col("doc_id").alias("a"),
        F.col("simhash").alias("sim_a"),
        "k",
        "band_val",
    )
    right = slices.select(
        F.col("doc_id").alias("b"),
        F.col("simhash").alias("sim_b"),
        "k",
        "band_val",
    )
    cand = (
        left.join(right, ["k", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sim_a", "sim_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))
    )

